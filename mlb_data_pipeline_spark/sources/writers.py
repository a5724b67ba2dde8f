"""Sinks (SURVEY §2.1 S8-S12).

The reference's storage layout is date-keyed blobs
(``articles/{YYYY-MM-DD}/...``, mlb_pipeline_dag.py:119) and a
clear-then-insert vector collection (pipeline.py:58-77). Spark-first
equivalents: ``partitionBy`` writes (partition pruning for free),
dynamic partition overwrite for idempotent daily re-runs, and a keyed
merge (left-anti + union) for upsert semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    fmt: str = "parquet",
    mode: str = "overwrite",
    dynamic: bool = True,
) -> None:
    """S8: date-partitioned lake write. With
    ``partitionOverwriteMode=dynamic`` only the partitions present in
    ``df`` are replaced — the engine's idempotent daily-batch re-run
    (reference: retry-safe daily blob overwrite, mlb_pipeline_dag.py:31-32).

    Pass ``dynamic=False`` when ``df`` IS the complete dataset (e.g. a
    shard release whose partition layout can change between runs):
    static overwrite clears the whole path, so partitions absent from
    this run — stale ``shard=`` dirs from a previous ``n_shards`` —
    cannot survive into the new release."""
    w = df.write.format(fmt).mode(mode)
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    else:
        w = w.option("partitionOverwriteMode", "static")
    w.partitionBy(*partition_cols).save(path)


def write_json_single(df: DataFrame, path: str) -> None:
    """S10: single-file JSON export (reference ``save_json``,
    agent_framework/utils.py:14-19). coalesce(1) is driver-safe only for
    small result sets — this is an export sink, not a lake write."""
    df.coalesce(1).write.mode("overwrite").json(path)


def _fs_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def target_exists(spark: SparkSession, path: str) -> bool:
    """True when ``path`` exists per the Hadoop FileSystem of its scheme
    (local posix here; object stores on a cluster)."""
    fs, hpath, _ = _fs_path(spark, path)
    return bool(fs.exists(hpath))


def _rename_or_raise(fs, jvm, src: str, dst: str) -> None:
    ok = fs.rename(jvm.org.apache.hadoop.fs.Path(src), jvm.org.apache.hadoop.fs.Path(dst))
    if not ok:
        raise IOError(f"rename {src} -> {dst} failed")


def recover_dataset(spark: SparkSession, path: str) -> str:
    """Complete an interrupted ``safe_rewrite`` swap at ``path``.

    The swap protocol leaves at most one of two crash states behind:
    ``path`` present with a stale ``<path>.__new``/``<path>.__old``
    sibling (crash before or after the swap — delete the sibling), or
    ``path`` absent with a committed ``<path>.__new`` (crash between
    the two renames — roll it forward; if ``.__new`` lacks its
    ``_SUCCESS`` marker, roll ``.__old`` back instead). Returns the
    action taken (``clean``/``rolled_forward``/``rolled_back``).
    Single-writer protocol: concurrent writers to one path are out of
    contract, as for any directory-swap store."""
    base = path.rstrip("/")
    new, old = base + ".__new", base + ".__old"
    fs, hpath, jvm = _fs_path(spark, base)
    pnew = jvm.org.apache.hadoop.fs.Path(new)
    pold = jvm.org.apache.hadoop.fs.Path(old)
    if fs.exists(hpath):
        for p in (pnew, pold):
            if fs.exists(p):
                fs.delete(p, True)
        return "clean"
    if fs.exists(pnew) and fs.exists(jvm.org.apache.hadoop.fs.Path(new + "/_SUCCESS")):
        _rename_or_raise(fs, jvm, new, base)
        if fs.exists(pold):
            fs.delete(pold, True)
        return "rolled_forward"
    if fs.exists(pold):
        _rename_or_raise(fs, jvm, old, base)
        if fs.exists(pnew):
            fs.delete(pnew, True)
        return "rolled_back"
    return "clean"  # first write: nothing at path yet


def safe_rewrite(spark: SparkSession, path: str, build) -> None:
    """Crash-safe in-place rewrite of the parquet dataset at ``path``.

    Plain ``mode("overwrite")`` onto the path being read is
    destroy-then-rebuild: Spark deletes the old files before the new
    write commits, so a crash mid-write (or loss of an executor holding
    localCheckpoint blocks) permanently destroys the store. Here
    ``build(tmp_path)`` materializes the FULL new content into
    ``<path>.__new`` — the source files are still on disk, so no
    checkpoint is needed and the lineage may read ``path`` freely —
    then the swap is two directory renames (path -> .__old,
    .__new -> path) with ``recover_dataset`` completing either
    half-done state on the next call. The old data survives until the
    new data is fully committed; the window where ``path`` is absent is
    two metadata renames, and recoverable.

    Single-writer per path (the standard store contract). ``build``
    must write a Hadoop-committed dataset (the ``_SUCCESS`` marker is
    the roll-forward signal)."""
    base = path.rstrip("/")
    new, old = base + ".__new", base + ".__old"
    recover_dataset(spark, base)
    fs, hpath, jvm = _fs_path(spark, base)
    pnew = jvm.org.apache.hadoop.fs.Path(new)
    build(new)
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(new + "/_SUCCESS")):
        raise IOError(f"safe_rewrite: build() left no _SUCCESS marker under {new}")
    if fs.exists(hpath):
        _rename_or_raise(fs, jvm, base, old)
    _rename_or_raise(fs, jvm, new, base)
    pold = jvm.org.apache.hadoop.fs.Path(old)
    if fs.exists(pold):
        fs.delete(pold, True)


def upsert_by_key(spark: SparkSession, target_path: str, new_df: DataFrame, key_cols: list[str], fmt: str = "parquet") -> None:
    """S11: keyed merge — delete-then-add semantics of the reference's
    vector upsert (pipeline.py:58-77; keyed delete
    scrape_store_embed.py:79) without the destructive full clear.

    Existing rows whose key collides with an incoming row are dropped
    (left-anti on the key), then the union is written back. Idempotent:
    re-running with the same ``new_df`` yields byte-identical content.
    At scale the anti join shuffles on the key once; with a
    date-partitioned target, partition pruning bounds the rewrite to
    touched partitions.
    """
    # Explicit existence probe (Hadoop FS — works for any scheme), NOT a
    # blanket except around the read: a permission error or corrupted
    # target must RAISE, never be silently treated as "first write".
    if target_exists(spark, target_path):
        existing = spark.read.format(fmt).load(target_path)
        kept = existing.join(new_df.select(*key_cols).distinct(), on=key_cols, how="left_anti")
        merged = kept.unionByName(new_df)
        safe_rewrite(
            spark, target_path,
            lambda tmp: merged.write.format(fmt).mode("overwrite").save(tmp),
        )
    else:
        new_df.write.format(fmt).mode("overwrite").save(target_path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    partition_cols: list[str] | None = None,
    target_files: int = 1,
    sort_cols: list[str] | None = None,
    zorder: list[tuple[str, float, float]] | None = None,
    zorder_bits: int = 16,
    hilbert: list[tuple[str, int, int]] | None = None,
) -> int:
    """Rewrite a parquet dataset in place with a bounded file count —
    the maintenance pass an append-only store (signature store, IVF
    inverted file, streaming pair sink) needs periodically: daily
    appends accrete one small file set per delta, and small files tax
    every subsequent scan (driver listing + per-file open + splits).

    Partitioned datasets keep their layout: rows shuffle to
    ``partition_cols`` (+ a bounded salt when ``target_files > 1``), so
    the dynamic-partition write emits ~``target_files`` files per
    partition directory. Content is byte-for-byte the same rows — this
    never changes data, only file topology. The rewrite lands in a
    temp directory and swaps in atomically (``safe_rewrite``) — a crash
    mid-compaction leaves the original store intact. Returns the row
    count (callers typically assert it against pre-compaction).

    ``sort_cols`` additionally RANGE-CLUSTERS the rewrite on those
    columns (repartitionByRange + sortWithinPartitions for flat
    datasets; an in-file sort under each partition dir otherwise), so
    parquet footer min/max stats become disjoint across files and a
    range predicate on the sort key prunes whole files/row-groups at
    scan time — the single-key form of layout optimization (for one
    range key, range-clustering IS the optimal skip layout). For
    MULTI-key box predicates pass ``zorder`` instead — (col, lo, hi)
    triples clustered on the interleaved Morton key
    (``operators.relational.zorder_key``), which keeps every
    dimension's footer min/max tight at once (the lakehouse OPTIMIZE
    ZORDER); the key is computed for layout only and dropped before
    the write. For exactly TWO integer-keyed dimensions ``hilbert``
    clusters on the Hilbert curve instead (operators/layout.py —
    measured ~6 points more file-skipping than Morton at identical
    write cost; integer (col, lo, hi) specs under the 2^53 exactness
    gate). This is how the persisted text-index postings and the
    time-keyed event lake keep probe scans proportional to the queried
    range, not the store."""
    if sum(x is not None for x in (sort_cols, zorder, hilbert)) > 1:
        raise ValueError("pass exactly one of sort_cols / zorder / hilbert")
    df = spark.read.parquet(path)
    drop_after = []
    if zorder:
        from ..operators.relational import zorder_key

        df = df.withColumn("__z", zorder_key(zorder, zorder_bits))
        sort_cols = ["__z"]
        drop_after = ["__z"]
    elif hilbert:
        # the better-locality 2-D curve (operators/layout.py): integer
        # (col, lo, hi) specs, exactness-gated cells, per-level unroll
        from ..operators.layout import scale_to_bits_int, with_hilbert_key

        if len(hilbert) != 2:
            raise ValueError("hilbert clusters exactly 2 columns; use zorder for more")
        (cx, lox, hix), (cy, loy, hiy) = hilbert
        df = df.withColumn("__cx", scale_to_bits_int(cx, lox, hix, zorder_bits)).withColumn(
            "__cy", scale_to_bits_int(cy, loy, hiy, zorder_bits)
        )
        df = with_hilbert_key(df, "__cx", "__cy", zorder_bits, out_col="__h")
        sort_cols = ["__h"]
        drop_after = ["__h", "__cx", "__cy"]
    n = df.count()
    if partition_cols:
        cols = [F.col(c) for c in partition_cols]
        if target_files > 1:
            cols.append(F.spark_partition_id() % target_files)
        out = df.repartition(*cols)
        if sort_cols:
            out = out.sortWithinPartitions(*sort_cols)
        if drop_after:
            out = out.drop(*drop_after)
        safe_rewrite(
            spark, path,
            lambda tmp: out.write.mode("overwrite").partitionBy(*partition_cols).parquet(tmp),
        )
    else:
        if sort_cols:
            out = df.repartitionByRange(target_files, *[F.col(c) for c in sort_cols]).sortWithinPartitions(*sort_cols)
        else:
            out = df.repartition(target_files)
        if drop_after:
            out = out.drop(*drop_after)
        safe_rewrite(spark, path, lambda tmp: out.write.mode("overwrite").parquet(tmp))
    return n


def delete_by_predicate(spark: SparkSession, target_path: str, predicate, fmt: str = "parquet") -> int:
    """P7: delete-where (reference ``collection.delete(where=...)``,
    pipeline.py:63-64) as a filtered rewrite. Returns rows deleted."""
    existing = spark.read.format(fmt).load(target_path)
    n_before = existing.count()
    keep = existing.filter(~predicate)
    n_after = keep.count()
    safe_rewrite(
        spark, target_path,
        lambda tmp: keep.write.format(fmt).mode("overwrite").save(tmp),
    )
    return n_before - n_after


def delete_keys_partitioned(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str,
    partition_col: str,
    schema_anchor: str | int | None = None,
) -> int:
    """Keyed delete from a PARTITIONED parquet dataset, preserving the
    partition layout (a plain ``delete_by_predicate`` rewrite would
    collapse the partition column into a data column). The delete half
    of the persisted stores' content-change refresh: signature store
    (partitioned by band), IVF inverted file (by list id), text index
    (by ingest batch) — in each, one doc's rows span many/all
    partitions, so the filtered rewrite is O(store) I/O by nature;
    refresh runs at content-change cadence, not delta cadence.

    ``schema_anchor``: a partition value that can never occur in real
    data (e.g. ``-1`` for non-negative int partitions). When given, an
    empty schema-bearing file is written under it so the dataset stays
    loadable even if the delete removed every row. Returns rows
    deleted."""
    existing = spark.read.parquet(path)
    n_before = existing.count()
    kept = existing.join(ids.distinct(), id_col, "left_anti")
    n_after = kept.count()

    def build(tmp: str) -> None:
        kept.write.mode("overwrite").partitionBy(partition_col).parquet(tmp)
        if schema_anchor is not None:
            kept.drop(partition_col).limit(0).coalesce(1).write.mode("overwrite").parquet(
                f"{tmp}/{partition_col}={schema_anchor}"
            )

    safe_rewrite(spark, path, build)
    return n_before - n_after


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Bucketed table write — the CO-LOCATED JOIN layout: rows are
    hash-clustered into ``n_buckets`` files per the bucket columns and
    the layout is recorded in the session catalog, so two tables
    bucketed the same way join WITHOUT A SHUFFLE (each bucket i joins
    bucket i; Catalyst plans a SortMergeJoin with zero exchanges, and
    with ``sort_cols`` matching the join key the per-bucket sort is
    pre-paid at write time too).

    This is the storage-side answer to repeated big-big joins at
    100 TB: the shuffle every fact-fact join would pay per QUERY is
    paid once per WRITE. Bucket count is part of the contract — both
    sides must agree (Spark can coalesce mismatched bucket counts, but
    plan for equality). ``path`` makes the table external (data under
    the caller's directory, not the session warehouse). Re-writing the
    same table name replaces it (DROP + overwrite: bucketing metadata
    lives in the catalog, so a bare directory overwrite would silently
    degrade to an unbucketed scan)."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def shard_manifest(spark: SparkSession, data_path: str) -> DataFrame:
    """Release manifest for a written parquet dataset: one row per data
    file with its row count and size — the artifact a training-data
    release hands downstream so consumers can verify completeness
    (sum of rows), shard-balance (row spread), and detect partial
    copies (file set + sizes) without scanning data. Row counts come
    from ONE metadata-cheap scan grouped by ``input_file_name()``;
    sizes from the filesystem listing (driver-side metadata, bounded
    by file count, never data volume).

    Returns (file, n_rows, bytes) sorted by file; callers typically
    write it next to the data (e.g. ``<path>/_MANIFEST``) after the
    shard write commits."""
    from pyspark.sql import functions as F

    from ..operators.layout import _decoded_uri

    # input_file_name() returns a percent-encoded file:///-style URI,
    # the FS listing a decoded file:/-style path, and one
    # dynamic-partition task reuses the SAME part basename in every
    # partition dir it writes — so the join key is the full decoded
    # path normalized to a bare /-rooted form on both sides
    norm = lambda c: F.regexp_replace(c, "^file:/+", "/")  # noqa: E731
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(data_path.rstrip("/"))
    fs = path.getFileSystem(conf)
    sizes = []
    if fs.exists(path):
        it = fs.listFiles(path, True)
        while it.hasNext():
            st = it.next()
            p = st.getPath().toString()
            if p.endswith(".parquet"):
                sizes.append((p, int(st.getLen())))
    if not sizes:
        # an empty release (every doc filtered/deduped) is a legitimate
        # outcome — the manifest certifies the empty file set instead of
        # failing schema inference on a fileless directory
        return spark.createDataFrame([], "file STRING, n_rows BIGINT, bytes BIGINT")
    counts = (
        spark.read.parquet(data_path.rstrip("/"))
        .groupBy(norm(_decoded_uri(F.input_file_name())).alias("path"))
        .agg(F.count("*").alias("n_rows"))
    )
    size_df = spark.createDataFrame(sizes, "file STRING, bytes BIGINT").withColumn(
        "path", norm(F.col("file"))
    )
    # LEFT join FROM the filesystem listing: a zero-row data file has no
    # input_file_name() group, but the manifest exists precisely to
    # certify the file set on disk — every .parquet file must appear,
    # with n_rows = 0 when the scan saw nothing from it.
    return size_df.join(counts, "path", "left").select(
        "file", F.coalesce("n_rows", F.lit(0)).alias("n_rows"), "bytes"
    ).orderBy("file")


# ---------------------------------------------------------------------------
# Versioned dataset store (round 7): time-travel for the rewrite family.
# safe_rewrite keeps ONE version with an atomic swap; this store keeps N
# — each write is a whole new `v=<n>` directory plus a pointer-file
# flip, so readers never observe a half-written dataset, concurrent
# readers of the PREVIOUS version are undisturbed by a new write, and
# yesterday's release stays queryable for diffs (q08's snapshot-diff
# shape) and rollbacks.
# ---------------------------------------------------------------------------


def _version_dirs(fs, jvm, base: str) -> list[int]:
    hbase = jvm.org.apache.hadoop.fs.Path(base)
    if not fs.exists(hbase):
        return []
    out = []
    for st in fs.listStatus(hbase):
        name = st.getPath().getName()
        if name.startswith("v=") and name[2:].isdigit():
            if fs.exists(jvm.org.apache.hadoop.fs.Path(f"{base}/{name}/_SUCCESS")):
                out.append(int(name[2:]))
    return sorted(out)


def list_versions(spark: SparkSession, path: str) -> list[int]:
    """Committed (fully written) versions at ``path``, ascending."""
    fs, _, jvm = _fs_path(spark, path.rstrip("/"))
    return _version_dirs(fs, jvm, path.rstrip("/"))


def current_version(spark: SparkSession, path: str) -> int | None:
    """The pointer-file version, falling back to the max committed
    version when the pointer is missing or stale (a crash between the
    data write and the pointer flip leaves the previous pointer — both
    states are valid reads; the fallback only fires when the pointer
    file itself is gone)."""
    base = path.rstrip("/")
    fs, _, jvm = _fs_path(spark, base)
    ptr = jvm.org.apache.hadoop.fs.Path(base + "/_CURRENT")
    if fs.exists(ptr):
        stream = fs.open(ptr)
        try:
            raw = bytes(stream.readAllBytes()).decode("ascii").strip()
        finally:
            stream.close()
        v = int(raw)
        if v in set(_version_dirs(fs, jvm, base)):
            return v
    versions = _version_dirs(fs, jvm, base)
    return versions[-1] if versions else None


def versioned_write(
    df: DataFrame, path: str, keep_versions: int = 3, fmt: str = "parquet"
) -> int:
    """Commit ``df`` as the next version of the dataset at ``path``.

    Protocol: write ``v=<n>`` completely (Hadoop commit, _SUCCESS), then
    flip the ``_CURRENT`` pointer (write sibling temp + rename — two
    metadata ops; a crash in between leaves the previous pointer valid
    and the new version readable by explicit id). Old versions beyond
    ``keep_versions`` are pruned AFTER the flip, never the current one.
    Returns the committed version id."""
    if keep_versions < 1:
        raise ValueError(f"keep_versions must be >= 1, got {keep_versions}")
    base = path.rstrip("/")
    spark = df.sparkSession
    fs, _, jvm = _fs_path(spark, base)
    versions = _version_dirs(fs, jvm, base)
    v = (versions[-1] + 1) if versions else 1
    df.write.format(fmt).mode("overwrite").save(f"{base}/v={v}")
    tmp = jvm.org.apache.hadoop.fs.Path(f"{base}/_CURRENT.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(str(v).encode("ascii"))
    finally:
        out.close()
    ptr = jvm.org.apache.hadoop.fs.Path(base + "/_CURRENT")
    if fs.exists(ptr):
        fs.delete(ptr, False)
    _rename_or_raise(fs, jvm, f"{base}/_CURRENT.tmp", base + "/_CURRENT")
    for old in _version_dirs(fs, jvm, base)[:-keep_versions]:
        if old != v:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{base}/v={old}"), True)
    return v


def read_version(
    spark: SparkSession, path: str, version: int | None = None, fmt: str = "parquet"
) -> DataFrame:
    """Read the current (pointer) version, or time-travel to an explicit
    one. Raises KeyError for a pruned/unknown version id."""
    base = path.rstrip("/")
    v = current_version(spark, base) if version is None else version
    if v is None or v not in set(list_versions(spark, base)):
        raise KeyError(f"no committed version {version!r} under {base}")
    return spark.read.format(fmt).load(f"{base}/v={v}")
