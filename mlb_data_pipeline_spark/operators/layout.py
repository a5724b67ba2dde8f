"""Multi-dimensional storage layout — Z-order (Morton) clustering.

A date-partitioned lake (sources/writers.py ``write_partitioned``)
prunes on ONE column; a second selective predicate (customer, price
band, geo cell) still scans every file inside the partition. Z-order
interleaves the bits of several scaled columns into one integer key, so
a range-repartition + within-file sort on that key makes every file a
small HYPER-RECTANGLE in all clustered dimensions at once: parquet
footer min/max stats then prune file scans for predicates on ANY of the
clustered columns, not just the partition column. This is the
multi-dimensional half of the lake-layout story next to bucketing
(S8/q83) and compaction-with-range-clustering (I8).

Reference scope: the reference's lake is date-keyed blobs only
(mlb_pipeline_dag.py:119); multi-column layout is part of the
beyond-reference scale surface (SURVEY §2.15).

100 TB design notes
-------------------
* The z-key is pure integer bit math (compare/shift/or) inside
  whole-stage codegen — no UDF, no shuffle of its own.
* ``write_zordered`` pays exactly ONE range shuffle (the same price as
  any global layout decision) and writes ``n_files`` roughly equal-row
  files; AQE cannot do this for you because the layout must survive
  into the FILES, not just the stage.
* Scaling to [0, 2^bits) uses integer floor division — engine-neutral
  (DuckDB ``//``), no float in any key. ``bits * n_cols <= 62`` keeps
  the key in a BIGINT.
* Pruning is measurable, not asserted: ``file_stats`` reads the real
  parquet footers and ``pruning_report`` computes the fraction of
  files a box predicate can skip under the laid-out vs naive layout.
* Reads prune through the catalog (catalog.py ``lake_scan``,
  ``lake_count``, ``lake_min_max``, ``lake_join_scan`` on a registered
  lake): this module holds their per-file rule, metadata aggregates
  and the Bloom and NDV manifests.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


# Exactness bound for the floor-div key path: every numerator
# (clamped - lo) * (2^bits - 1) must stay below 2^53 so the double
# quotient in floor_div is within 1 of the true integer quotient and
# the ±1 correction restores exactness. Beyond 2^53 the correction can
# be insufficient, and beyond 2^63 the long PRODUCT itself silently
# overflows in non-ANSI Spark — either way the z-keys would be silently
# wrong, so the bound is enforced, never assumed.
_EXACT_PRODUCT_LIMIT = 1 << 53


def _all_data_files(path: str) -> list[str]:
    """Sorted RELATIVE paths of every parquet data file ON DISK under
    ``path``, recursing through partition directories (``dt=...``,
    ``ingest_batch=...``) — including files an expired snapshot once
    referenced. Only the snapshot layer (operators/snapshots.py) should
    need this raw listing; everything else wants ``_data_files``."""
    out = []
    base = os.path.abspath(path)
    for root, dirs, names in os.walk(base):
        # the Hadoop hidden convention: _- and .-prefixed entries are
        # metadata (release manifests, _SUCCESS sidecars, checkpoints),
        # never data — exactly what parquet discovery skips
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if n.endswith(".parquet") and not n.startswith(("_", ".")):
                out.append(os.path.relpath(os.path.join(root, n), base))
    return sorted(out)


def _data_files(path: str) -> list[str]:
    """Sorted RELATIVE paths of the LIVE parquet data files under
    ``path`` — the one listing primitive the adoption/pruning/optimize
    family shares, so flat and partitioned lakes behave identically.
    On a snapshot lake (round 11, operators/snapshots.py) "live" means
    the current snapshot's file list: files a delete/merge/optimize
    commit removed stay on disk for time travel until vacuum, but no
    reader or maintenance op may see them. The head record comes from
    the snapshot layer's own reader, so sharded records resolve too."""
    from .snapshots import current_version, snapshot_files

    files = _all_data_files(path)
    head = current_version(path)
    if head is not None:
        # intersect, don't trust: a referenced file may have been
        # vacuumed out from under a stale log copy — absent files are
        # simply not read
        return sorted(set(files) & set(snapshot_files(path, head)))
    return files


def _decoded_uri(uri: Column) -> Column:
    """A Spark file URI (``input_file_name()``, ``_metadata.file_path``)
    percent-decoded: a leaf ``s=a b`` reads back as ``s=a%20b``, Hive's
    own escape ``s=x%3Ay`` as ``s=x%253Ay``. ``+`` is protected, since
    ``url_decode`` is form decoding."""
    return F.url_decode(F.regexp_replace(uri, r"\+", "%2B"))


def _lake_relpath(path: str, uri: Column) -> Column:
    """A data file's URI, decoded (``_decoded_uri``) and reduced to its
    name RELATIVE to the lake root — the on-disk name ``_data_files``
    lists and snapshot records carry."""
    import re as _re

    base = os.path.abspath(path)
    prefix = "^(file:/*)?" + _re.escape(base.lstrip("/")) + "/"
    return F.regexp_replace(_decoded_uri(uri), prefix, "")


def _relpath_col(path: str):
    """``input_file_name()`` as a lake-relative name, so bloom- and
    NDV-manifest file names match ``_data_files`` in flat and
    partitioned lakes alike."""
    return _lake_relpath(path, F.input_file_name())


def _dv_key_files(keys, files) -> dict[str, str]:
    """{deletion-vector key -> the live RELATIVE file it masks} for
    the ``keys`` of a record's ``dv_rows``/``dv_files`` (the sidecars'
    ``file`` column) against its live ``files``. Masks are keyed by the
    lake-relative file name; records written before that keyed them
    by file BASENAME, which repeats across partition leaves (Spark
    names every task's output ``part-NNNNN-<job uuid>``, in every
    leaf the task wrote). A key with no ``/`` that names no live file
    is such a legacy key: it resolves to the one live file with that
    basename, and raises ``ValueError`` when several live files share
    it — guessing is what masks rows of the wrong file. Keys naming no
    live file (rewritten away) are left out."""
    live = set(files)
    out = {k: k for k in keys if k in live}
    legacy = [k for k in keys if k not in live and "/" not in k]
    if legacy:
        by_base: dict[str, list[str]] = {}
        for n in live:
            by_base.setdefault(os.path.basename(n), []).append(n)
        for k in legacy:
            hits = sorted(by_base.get(k, ()))
            if len(hits) > 1:
                raise ValueError(
                    f"deletion-vector key {k!r} is a bare file basename shared by "
                    f"{len(hits)} live files ({hits[0]!r}, {hits[1]!r}, ...) — the "
                    "record predates lake-relative mask keys and cannot say which "
                    "file it masks; roll back to a version before that delete"
                )
            if hits:
                out[k] = hits[0]
    return out


def _dv_rows_by_file(dv_rows: dict[str, int] | None, files) -> dict[str, int]:
    """A record's ``dv_rows`` re-keyed by live RELATIVE file name
    (``_dv_key_files``'s resolution and ambiguity rule): {file ->
    masked rows}, legacy basename and relative entries for one file
    summed."""
    out: dict[str, int] = {}
    if not dv_rows:
        return out
    for k, n in _dv_key_files(dv_rows, files).items():
        out[n] = out.get(n, 0) + int(dv_rows[k])
    return out


def floor_div(num: Column, den: int | Column) -> Column:
    """Exact integer floor division of a non-negative long expression.

    Long `/` in Spark is DOUBLE division; for products below 2^53 the
    correctly-rounded quotient is within 1 of the true integer quotient,
    so one ±1 correction in long math makes it exact — bit-identical to
    DuckDB `//` without leaving the Column API. Callers must keep
    ``num < 2^53`` (see ``_EXACT_PRODUCT_LIMIT``); the scale_to_bits
    wrappers enforce it."""
    d = (F.lit(den) if isinstance(den, int) else den).cast("long")
    q0 = (num / d).cast("long")
    q1 = F.when(q0 * d > num, q0 - 1).otherwise(q0)
    return F.when((q1 + 1) * d <= num, q1 + 1).otherwise(q1)


def scale_to_bits_int(col: Column | str, lo: int, hi: int, bits: int) -> Column:
    """Map an integer column in [lo, hi] to [0, 2^bits - 1] by integer
    floor division — ((x - lo) * (2^bits - 1)) // (hi - lo), clamped so
    out-of-range rows land in edge cells instead of corrupting the
    interleave. Integer-exact (the form the oracle mirrors): never a
    double in the key path."""
    if hi <= lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    top = (1 << bits) - 1
    # Exactness gate: (hi - lo) * top must stay under 2^53 or floor_div's
    # ±1 correction no longer guarantees the true quotient (and past 2^63
    # the product itself silently wraps). Wide ranges (e.g. epoch-micros
    # spanning years) auto-pre-shift: dividing BOTH (x - lo) and
    # (hi - lo) by 2^s keeps the math integer-exact for the shifted
    # formula, costs at most one cell of placement (irrelevant for a
    # layout key), and is engine-neutral (>> mirrors in any SQL).
    shift = 0
    while ((hi - lo) >> shift) * top >= _EXACT_PRODUCT_LIMIT:
        shift += 1
    rng = (hi - lo) >> shift
    if rng < 1:
        raise ValueError(
            f"range [{lo}, {hi}] with bits={bits} cannot be scaled exactly; "
            "reduce bits or pre-scale the column"
        )
    c = F.col(col) if isinstance(col, str) else col
    c = c.cast("long")
    clamped = F.least(F.greatest(c, F.lit(lo).cast("long")), F.lit(hi).cast("long"))
    scaled = F.shiftright(clamped - F.lit(lo), shift) if shift else (clamped - F.lit(lo))
    # post-shift product is < 2^53 by construction; floor_div is exact
    return F.least(floor_div(scaled * F.lit(top), rng), F.lit(top).cast("long"))


def scale_to_bits_cols(col: Column, lo: Column, hi: Column, bits: int) -> Column:
    """In-plan variant of ``scale_to_bits_int`` for DATA-DERIVED bounds
    (1-row bound aggregates cross-joined in, never collected).

    The bounds are runtime values, so the 2^53 exactness gate cannot be
    checked in Python; instead an in-plan guard RAISES if the observed
    range is too wide for exact floor division — silently-wrong z-keys
    are never an outcome. Callers with wider ranges should pre-scale
    the column (e.g. epoch-micros -> epoch-seconds) before keying."""
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    c = col.cast("long")
    lo = lo.cast("long")
    hi = hi.cast("long")
    clamped = F.least(F.greatest(c, lo), hi)
    top = (1 << bits) - 1
    max_range = (_EXACT_PRODUCT_LIMIT - 1) // top
    # degenerate hi == lo: every value maps to cell 0
    return (
        F.when(
            hi - lo > F.lit(max_range).cast("long"),
            F.raise_error(
                F.lit(
                    f"scale_to_bits_cols: range exceeds {max_range} "
                    f"(exact floor-div bound for bits={bits}); pre-scale the column"
                )
            ).cast("long"),
        )
        .when(hi > lo, floor_div((clamped - lo) * F.lit(top).cast("long"), hi - lo))
        .otherwise(F.lit(0).cast("long"))
    )


def zorder_key(cells: list[Column], bits: int) -> Column:
    """Interleave the low ``bits`` bits of each cell column (already in
    [0, 2^bits)) into one Morton key: bit b of column i lands at
    position b * n + i. Pure shift/and/or — one codegen expression,
    bit-identical in any engine with integer semantics."""
    n = len(cells)
    if n < 2:
        raise ValueError("zorder needs >= 2 columns (use a plain sort for 1)")
    if bits * n > 62:
        raise ValueError(f"bits*n_cols must be <= 62 to fit a BIGINT, got {bits * n}")
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cells):
            bit = F.shiftright(c, b).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


def zorder_key_sql(cell_exprs: list[str], bits: int) -> str:
    """The identical interleave as portable SQL (DuckDB oracle side)."""
    terms = []
    for b in range(bits):
        for i, e in enumerate(cell_exprs):
            # fully parenthesized: DuckDB's `|` binds TIGHTER than `<<`,
            # so `t1 | t2 << s` parses as `(t1 | t2) << s`
            terms.append(f"(((({e}) >> {b}) & 1) << {b * len(cell_exprs) + i})")
    return " | ".join(terms)


def write_zordered(
    df: DataFrame,
    path: str,
    specs: list[tuple[str, int, int]],
    bits: int = 16,
    n_files: int = 32,
) -> None:
    """Lay ``df`` out as ``n_files`` parquet files clustered on the
    z-order of ``specs`` = [(col, lo, hi), ...]. One range shuffle on
    the key, a within-partition sort so each FILE covers a contiguous
    z-range, key dropped on write (derivable from the data)."""
    cells = [scale_to_bits_int(c, lo, hi, bits) for c, lo, hi in specs]
    z = zorder_key(cells, bits)
    (
        df.withColumn("__zkey", z)
        .repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


# Physical types whose footer min/max are exact and totally ordered
# under Python min()/max(). BYTE_ARRAY / FIXED_LEN_BYTE_ARRAY stats may
# be TRUNCATED bounds (parquet writers shorten long strings), so folding
# them with min()/max() can under/overstate the range — those columns
# are excluded, which downstream (pruning_report, the catalog reads)
# treats as must-read.
_EXACT_STAT_TYPES = {"BOOLEAN", "INT32", "INT64", "FLOAT", "DOUBLE"}


def _stat_num(v):
    """Footer stat -> comparable NUMBER, or None if unusable. Temporal
    logical types ride INT32/INT64 physical storage, so pyarrow hands
    back datetime.date / datetime.datetime objects that the record's
    numeric stats (and float box bounds) cannot hold: dates fold
    as EPOCH DAYS, timestamps as EPOCH SECONDS — box bounds over those
    columns use the same units."""
    import datetime as _dt

    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return (v - _dt.datetime(1970, 1, 1)).total_seconds()
    if isinstance(v, _dt.date):
        return float((v - _dt.date(1970, 1, 1)).days)
    return None


def _footer_stats(md, cols=None) -> dict:
    """``{"min", "max", "nulls"}`` of one pyarrow ``FileMetaData``, keyed
    by physical column path, over ``cols`` (every column when None) —
    the fold behind ``file_stats`` and the stats a snapshot commit
    records. Only numeric/temporal physical types (``_EXACT_STAT_TYPES``) are
    folded: string/binary footer stats may be truncated bounds, and a
    wrong fold there would overstate pruning. Temporal logical values
    normalize to epoch numbers (``_stat_num``). A column absent from
    ``min``/``max`` means "no usable stats"; a ``nulls`` value of None
    means the footer did not say for every row group."""
    n_rg = md.num_row_groups
    lo: dict[str, object] = {}
    hi: dict[str, object] = {}
    nulls: dict[str, int] = {}
    # per-column count of row groups that contributed usable stats: a
    # bound (or null count) folded from SOME row groups only is NOT the
    # file's — a stats-less row group could hold the true extreme (or
    # nulls), so partial coverage degrades to "no usable stats" (round 11)
    mm_cover: dict[str, int] = {}
    nc_cover: dict[str, int] = {}
    for rg in range(n_rg):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            cname = c.path_in_schema
            if cols is not None and cname not in cols:
                continue
            if c.physical_type not in _EXACT_STAT_TYPES or c.statistics is None:
                continue
            s = c.statistics
            # null counts ride along (round 11): the metadata-count fast
            # path needs provably NO nulls in a file's box columns
            if s.has_null_count:
                nulls[cname] = nulls.get(cname, 0) + int(s.null_count)
                nc_cover[cname] = nc_cover.get(cname, 0) + 1
            if not s.has_min_max:
                continue
            mn = _stat_num(s.min)
            mx = _stat_num(s.max)
            if mn is None or mx is None:
                continue
            lo[cname] = mn if cname not in lo else min(lo[cname], mn)
            hi[cname] = mx if cname not in hi else max(hi[cname], mx)
            mm_cover[cname] = mm_cover.get(cname, 0) + 1
    for cname in list(lo):
        if mm_cover.get(cname, 0) != n_rg:
            lo.pop(cname, None)
            hi.pop(cname, None)
    return {
        "min": lo,
        "max": hi,
        "nulls": {c: (n if nc_cover.get(c, 0) == n_rg else None) for c, n in nulls.items()},
    }


def file_stats(path: str, cols: list[str], names: list[str] | None = None) -> list[dict]:
    """Per-file min/max/null counts for ``cols`` from the REAL parquet
    footers (what a scan's file-skipping sees) — one row per data file,
    folded by ``_footer_stats``. ``names`` restricts the pass to a
    subset of RELATIVE names (e.g. a snapshot's live list)."""
    import pyarrow.parquet as pq

    out = []
    for name in (names if names is not None else _data_files(path)):
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        out.append({"file": name, **_footer_stats(md, cols), "rows": md.num_rows})
    return out


def pruning_report(path: str, box: dict[str, tuple[float, float]]) -> dict:
    """Fraction of files a conjunctive box predicate
    ``{col: (lo, hi)}`` can SKIP from footer stats and partition values
    alone — the number a 100 TB scan actually feels, under the one
    per-file rule (``_skip_rules``: missing stats never skip). Returns
    files_total / files_hit / skip_frac."""
    stats = file_stats(path, list(box))
    skipped = _skipped_files(stats, [(box, {}, {}, {})], None, lambda _e: set())
    total = len(stats)
    hit = total - len(skipped)
    return {
        "files_total": total,
        "files_hit": hit,
        "skip_frac": 0.0 if total == 0 else round(1.0 - hit / total, 4),
    }


def zorder_specs(df: DataFrame, cols: list[str]) -> list[tuple[str, int, int]]:
    """Data-derived (col, lo, hi) specs for ``write_zordered`` via ONE
    1-row bounds aggregate — a bounded metadata collect (2 longs per
    column), the same budget class as the IVF centroid load."""
    aggs = []
    for c in cols:
        aggs.append(F.min(F.col(c).cast("long")).alias(f"__lo_{c}"))
        aggs.append(F.max(F.col(c).cast("long")).alias(f"__hi_{c}"))
    row = df.agg(*aggs).head()
    return [(c, row[f"__lo_{c}"], row[f"__hi_{c}"]) for c in cols]


def _bloom_skippable(spark: SparkSession, manifest_path: str, value) -> set[str]:
    """Skip set for one bloom_filters entry: a scalar means equality
    (col = v); a list/tuple/set means an IN-list — a file is skippable
    ONLY if its bitmap provably lacks EVERY listed value (intersection
    of the per-value skip sets), mirroring how a scanner would treat
    `col IN (...)`."""
    if isinstance(value, (list, tuple, set, frozenset)):
        vals = list(value)
        if not vals:
            return set()  # empty IN-list proves nothing at the file level
        out = bloom_skippable_files(spark, manifest_path, vals[0])
        for v in vals[1:]:
            out &= bloom_skippable_files(spark, manifest_path, v)
        return out
    return bloom_skippable_files(spark, manifest_path, value)


def _partition_values(name: str) -> dict[str, str]:
    """Directory-encoded partition values from a RELATIVE file path
    (``dt=2024-01-01/hour=5/part-....parquet`` -> {dt: ..., hour: ...}),
    hive-unescaped. Hive's NULL sentinel is omitted (must-read)."""
    from urllib.parse import unquote

    out: dict[str, str] = {}
    for seg in name.split("/")[:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            if v != "__HIVE_DEFAULT_PARTITION__":
                out[k] = unquote(v)
    return out


def _partition_num(raw: str, col: str, col_types: dict | None):
    """A partition value as a number in the box's units: numeric parse,
    else the temporal fold on date/timestamp columns (epoch days /
    seconds — layout._stat_num's convention). None = not comparable."""
    try:
        return float(raw)
    except ValueError:
        pass
    from ..catalog import _temporal_num

    return _temporal_num(col, raw, col_types)


def _partition_skippable(
    vals: dict[str, str],
    box: dict[str, tuple[float, float]],
    equals: dict[str, object],
    col_types: dict | None,
    not_equals: dict[str, list] | None = None,
    nullness: dict[str, str] | None = None,
) -> bool:
    """True when a file's directory-encoded partition values PROVE it
    irrelevant to the (box, equals) clauses — the Iceberg partition-
    stats rule (round 11): every row of the file shares the partition
    value, so a single miss skips the whole file. Unparseable or
    absent values contribute must-read, never skip."""
    for col, raw in vals.items():
        if col in box:
            x = _partition_num(raw, col, col_types)
            if x is not None:
                lo, hi = box[col]
                if x < lo or x > hi:
                    return True
        if col in equals:
            want = equals[col]
            want_list = want if isinstance(want, list) else [want]
            miss = True
            for w in want_list:
                if isinstance(w, str):
                    if raw == w:
                        miss = False
                        break
                else:
                    x = _partition_num(raw, col, col_types)
                    if x is not None and x == float(w):
                        miss = False
                        break
                    if x is None:
                        miss = False  # unparseable: must-read
                        break
            if miss:
                return True
        for w in (not_equals or {}).get(col, ()):
            # col <> v: skippable exactly when the directory value IS v
            # (every row shares it)
            if isinstance(w, str):
                if raw == w:
                    return True
            else:
                x = _partition_num(raw, col, col_types)
                if x is not None and x == float(w):
                    return True
        # a directory-encoded value is NON-NULL for every row, so the
        # file provably has no rows matching "col IS NULL"
        if (nullness or {}).get(col) == "null":
            return True
    return False


def _skip_rules(
    fs: dict, box: dict, equals: dict, nots: dict, nullness: dict, col_types: dict | None
) -> set[str]:
    """The rules that PROVE no row of a file matches one conjunctive
    branch (box, equals, nots, nullness) — the one per-file skip rule
    of pruned scans, EXPLAIN, the metadata aggregates, snapshot DML and
    ``pruning_report``.
    ``fs`` is the file's stats entry in ``file_stats``' shape. The
    rules:

    * ``partition`` — a directory-encoded partition value misses
      (``_partition_skippable``);
    * ``stats`` — a min/max miss on a numeric box bound, or a provably
      all-null box column (a box matches nothing);
    * ``nulls`` — ``IS NULL`` on a provably null-free column, ``IS NOT
      NULL`` on a provably all-null one.

    Empty = keep: missing stats never skip."""
    out: set[str] = set()
    if _partition_skippable(
        _partition_values(fs["file"]), box, equals, col_types, nots, nullness
    ):
        out.add("partition")
    rows = fs["rows"]
    for c, (lo, hi) in box.items():
        try:
            lo_f, hi_f = float(lo), float(hi)
        except (TypeError, ValueError):
            continue  # string bound: no exact stats to check
        if c in fs["min"] and c in fs["max"]:
            if fs["max"][c] < lo_f or fs["min"][c] > hi_f:
                out.add("stats")
        elif fs["nulls"].get(c) is not None and int(fs["nulls"][c]) == int(rows):
            out.add("stats")
    for c, kind in nullness.items():
        nc = fs["nulls"].get(c)
        if nc is None:
            continue
        if kind == "null" and int(nc) == 0:
            out.add("nulls")
        elif kind == "notnull" and int(nc) == int(rows) and rows > 0:
            out.add("nulls")
    return out


def _surely_inside_file(st_lo: float, st_hi: float, lo: float, hi: float) -> bool:
    """Strict containment check for the ALL-ROWS-MATCH proof — above
    2^53 a stat's float fold rounds, so containment must hold with
    one-ulp slack before trusting it."""
    import math

    exact = 2.0**53
    lo_ok = st_lo >= lo if abs(st_lo) < exact else st_lo - math.ulp(st_lo) >= lo
    hi_ok = st_hi <= hi if abs(st_hi) < exact else st_hi + math.ulp(st_hi) <= hi
    return lo_ok and hi_ok


def _all_rows_match(fs: dict, box: dict, str_eq: dict, col_types: dict | None) -> bool:
    """True when a file's stats / partition values PROVE every row
    matches an exact conjunctive (box, str_eq) predicate: each box
    column's [min, max] is contained in the bound with a provably ZERO
    null count (a NULL row never matches: it is not counted, not part
    of a min/max, and a delete must keep it), and each string equality
    is a matching directory-encoded partition value (every row shares
    it)."""
    pvals = _partition_values(fs["file"])
    for c, (lo, hi) in box.items():
        st_lo, st_hi = fs["min"].get(c), fs["max"].get(c)
        if st_lo is None or st_hi is None:
            pv = pvals.get(c)
            if pv is not None:
                x = _partition_num(pv, c, col_types)
                if x is not None and float(lo) <= x <= float(hi):
                    continue  # exact (v, v, nulls=0) partition stat
            return False
        if fs["nulls"].get(c) is None or int(fs["nulls"][c]) != 0:
            return False
        if not _surely_inside_file(float(st_lo), float(st_hi), float(lo), float(hi)):
            return False
    for c, v in str_eq.items():
        if pvals.get(c) != v:
            return False
    return True


def _skipped_files(
    stats: list[dict], branches: list[tuple], col_types: dict | None, bloom_skip
) -> dict[str, set[str]]:
    """{file: rules} for the files of ``stats`` that EVERY OR-branch
    (box, equals, nots, nullness) proves irrelevant (``_skip_rules``),
    each file's rules unioned across branches — the plan of a pruned
    scan and of its EXPLAIN alike. ``bloom_skip(equals)`` returns the
    files a branch's Bloom probes prove absent (rule ``bloom``)."""
    out: dict[str, set[str]] | None = None
    for box, equals, nots, nullness in branches:
        bloom = bloom_skip(equals)
        hit = {}
        for fs in stats:
            rules = _skip_rules(fs, box, equals, nots, nullness, col_types)
            if fs["file"] in bloom:
                rules.add("bloom")
            if rules:
                hit[fs["file"]] = rules
        out = hit if out is None else {f: out[f] | r for f, r in hit.items() if f in out}
    return out or {}


# ---------------------------------------------------------------------------
# Hilbert curve — the better-locality layout key (Y3, round 9).
# Z-order is one interleave expression but jumps across space at power-
# of-two seams (the "Z" diagonal): a box predicate straddling a seam
# hits files whose z-ranges are far apart. The Hilbert curve visits
# every cell of the 2^bits x 2^bits grid through ADJACENT cells only,
# so equal-count key ranges (files) are tighter rectangles on average
# — the curve Delta Lake's OPTIMIZE and Amazon Redshift both moved to
# for multi-column layout. Price: a per-level state transform instead
# of one interleave. Both engines unroll the SAME integer-only
# transform (quadrant = 3*rx + ry - 2*rx*ry replaces the xor, so no
# operator-precedence traps), level by level, as chained projections —
# expression DAGs stay linear in `bits`, never exponential.
# ---------------------------------------------------------------------------


def with_hilbert_key(
    df: DataFrame, x_col: str, y_col: str, bits: int, out_col: str = "__hkey"
) -> DataFrame:
    """Append the Hilbert d-index of integer cells (x, y) in
    [0, 2^bits). Unrolls the standard xy2d walk (top bit down): at each
    level s = 2^(bits-1-level), take quadrant bits (rx, ry), add
    s*s*quadrant, then flip/swap the frame for the next level. One
    narrow projection per level keeps the plan linear in ``bits``."""
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    n = 1 << bits
    out = df.withColumn("__hx", F.col(x_col).cast("long")).withColumn(
        "__hy", F.col(y_col).cast("long")
    ).withColumn(out_col, F.lit(0).cast("long"))
    for level in range(bits):
        s = 1 << (bits - 1 - level)
        rx = F.when(F.col("__hx").bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        ry = F.when(F.col("__hy").bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        quadrant = F.lit(3) * rx + ry - F.lit(2) * rx * ry
        d = F.col(out_col) + F.lit(s) * F.lit(s) * quadrant
        # canonical rot: ry == 0 -> flip within the FULL grid by rx
        # (n-1-x stays non-negative even when x >= s), then swap x/y;
        # ry == 1 -> frame unchanged
        flipped_x = F.when(rx == 1, F.lit(n - 1) - F.col("__hx")).otherwise(F.col("__hx"))
        flipped_y = F.when(rx == 1, F.lit(n - 1) - F.col("__hy")).otherwise(F.col("__hy"))
        new_x = F.when(ry == 0, flipped_y).otherwise(F.col("__hx"))
        new_y = F.when(ry == 0, flipped_x).otherwise(F.col("__hy"))
        out = out.withColumn("__nx", new_x).withColumn("__ny", new_y).withColumn(out_col, d)
        out = out.drop("__hx", "__hy").withColumnRenamed("__nx", "__hx").withColumnRenamed(
            "__ny", "__hy"
        )
    return out.drop("__hx", "__hy")


def with_hilbert_key_nd(
    df: DataFrame, cols: list[str], bits: int, out_col: str = "__hkey"
) -> DataFrame:
    """N-dimensional Hilbert index (round 10 — closes the 2-D-only gap
    flagged in VERDICT r9): Skilling's transform ("Programming the
    Hilbert curve", AIP 2004) unrolled as chained integer projections —
    per Q-level one small xor/and update per axis, then the Gray-code
    prefix fold, then a Morton gather of the transposed bits. Pure
    long bitwise ops, no UDF; plan depth is O(bits * n) narrow
    projections (CollapseProject keeps them from inlining because each
    level's outputs are multiply-referenced — the same property the
    2-D walk relies on).

    Validated in tests/test_layout_ops.py against an independent
    Python reference AND the Hilbert adjacency property (consecutive
    keys are grid neighbors) over full 3-D grids. For 2 columns prefer
    ``with_hilbert_key`` — its planar walk has a DuckDB SQL mirror
    (oracle-able); this N-D form is the layout tool."""
    n = len(cols)
    if n < 2:
        raise ValueError("hilbert_nd needs >= 2 columns (use a plain sort for 1)")
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    if bits * n > 62:
        raise ValueError(f"bits*n_cols must be <= 62 to fit a BIGINT, got {bits * n}")
    X = [f"__h{i}" for i in range(n)]
    out = df
    for i, c in enumerate(cols):
        out = out.withColumn(X[i], F.col(c).cast("long"))
    M = 1 << (bits - 1)
    # inverse-undo-excess-work pass: top bit down to 2
    Q = M
    while Q > 1:
        P = Q - 1
        for i in range(n):
            has_q = F.col(X[i]).bitwiseAND(F.lit(Q)) > 0
            if i == 0:
                out = out.withColumn(
                    X[0],
                    F.when(has_q, F.col(X[0]).bitwiseXOR(F.lit(P))).otherwise(F.col(X[0])),
                )
            else:
                # Q present on axis i: invert X0's low bits (X0 ^= P),
                # exchange mask is zero; Q absent: exchange the low bits
                # of X0 and Xi below P. __t materializes once so the xor
                # isn't evaluated twice.
                t = (F.col(X[0]).bitwiseXOR(F.col(X[i]))).bitwiseAND(F.lit(P))
                out = (
                    out.withColumn("__t", F.when(has_q, F.lit(0).cast("long")).otherwise(t))
                    .withColumn(
                        X[0],
                        F.col(X[0]).bitwiseXOR(
                            F.when(has_q, F.lit(P).cast("long")).otherwise(F.col("__t"))
                        ),
                    )
                    .withColumn(X[i], F.col(X[i]).bitwiseXOR(F.col("__t")))
                    .drop("__t")
                )
        Q >>= 1
    # Gray-encode: sequential prefix xor (each step reads the PREVIOUS
    # step's updated column — withColumn chaining gives exactly that)
    for i in range(1, n):
        out = out.withColumn(X[i], F.col(X[i]).bitwiseXOR(F.col(X[i - 1])))
    t_expr = F.lit(0).cast("long")
    Q = M
    while Q > 1:
        t_expr = t_expr.bitwiseXOR(
            F.when(F.col(X[n - 1]).bitwiseAND(F.lit(Q)) > 0, F.lit(Q - 1))
            .otherwise(F.lit(0))
            .cast("long")
        )
        Q >>= 1
    out = out.withColumn("__t", t_expr)
    for i in range(n):
        out = out.withColumn(X[i], F.col(X[i]).bitwiseXOR(F.col("__t")))
    out = out.drop("__t")
    # gather the transpose: key's most-significant bit is X[0]'s top
    # bit — zorder_key puts HIGHER list index at the more-significant
    # in-level position, so pass the axes reversed
    key = zorder_key([F.col(x) for x in reversed(X)], bits)
    return out.withColumn(out_col, key).drop(*X)


def hilbert_key_sql(x_expr: str, y_expr: str, bits: int, src: str) -> str:
    """The identical unrolled walk as a chained-CTE SQL fragment over
    relation ``src`` (which must expose the cell columns referenced by
    ``x_expr``/``y_expr`` plus any payload). Returns a WITH body whose
    final relation ``h{bits}`` has all of ``src``'s columns plus
    ``hkey``. Chained CTEs keep the SQL linear in ``bits`` — a single
    substituted expression would be exponential (each level reads both
    coordinates of the previous one)."""
    steps = [
        f"h0 AS (SELECT *, CAST(({x_expr}) AS BIGINT) AS hx0, "
        f"CAST(({y_expr}) AS BIGINT) AS hy0, CAST(0 AS BIGINT) AS hk0 FROM {src})"
    ]
    n = 1 << bits
    for level in range(bits):
        s = 1 << (bits - 1 - level)
        x, y, k = f"hx{level}", f"hy{level}", f"hk{level}"
        nx, ny, nk = f"hx{level + 1}", f"hy{level + 1}", f"hk{level + 1}"
        rx = f"(CASE WHEN ({x} & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN ({y} & {s}) > 0 THEN 1 ELSE 0 END)"
        # level-numbered columns: the new values always read the PRIOR
        # level's columns by distinct name, so alias-shadowing rules can
        # never change the semantics; flips use the FULL grid (n-1-x,
        # the canonical rot) so intermediates stay non-negative
        steps.append(
            f"h{level + 1} AS (SELECT * EXCLUDE ({x}, {y}, {k}),\n"
            f"  CASE WHEN {ry} = 1 THEN {x} ELSE (CASE WHEN {rx} = 1 THEN {n - 1} - {y} ELSE {y} END) END AS {nx},\n"
            f"  CASE WHEN {ry} = 1 THEN {y} ELSE (CASE WHEN {rx} = 1 THEN {n - 1} - {x} ELSE {x} END) END AS {ny},\n"
            f"  {k} + {s} * {s} * (3 * {rx} + {ry} - 2 * {rx} * {ry}) AS {nk}\n"
            f"  FROM h{level})"
        )
    steps.append(
        f"h_final AS (SELECT * EXCLUDE (hx{bits}, hy{bits}, hk{bits}), hk{bits} AS hkey FROM h{bits})"
    )
    return ",\n".join(steps)


def hilbert_nd_key_sql(col_exprs: list[str], bits: int, src: str) -> str:
    """The identical N-D Skilling walk as a chained-CTE SQL fragment
    (DuckDB oracle side) over relation ``src``: one CTE per (Q-level,
    axis) update — each reads the PRIOR step's columns by distinct
    step-numbered name, so the SQL stays linear in bits*n exactly like
    the expression chain. Final relation ``hnd_final`` carries all of
    ``src``'s columns plus ``hkey``. Every op is integer xor/and/shift,
    so both engines agree bit-for-bit."""
    n = len(col_exprs)
    if n < 2 or not 1 <= bits <= 31 or bits * n > 62:
        raise ValueError(f"bad hilbert_nd spec: n={n}, bits={bits}")

    def x(i: int, s: int) -> str:
        return f"hx{i}_{s}"

    step = 0
    ctes = [
        f"hnd0 AS (SELECT *, "
        + ", ".join(f"CAST(({e}) AS BIGINT) AS {x(i, 0)}" for i, e in enumerate(col_exprs))
        + f" FROM {src})"
    ]
    M = 1 << (bits - 1)
    Q = M
    while Q > 1:
        P = Q - 1
        for i in range(n):
            prev, cur = step, step + 1
            cols = []
            if i == 0:
                cols.append(
                    f"CASE WHEN ({x(0, prev)} & {Q}) > 0 THEN xor({x(0, prev)}, {P}) "
                    f"ELSE {x(0, prev)} END AS {x(0, cur)}"
                )
                for j in range(1, n):
                    cols.append(f"{x(j, prev)} AS {x(j, cur)}")
            else:
                swap = f"(xor({x(0, prev)}, {x(i, prev)}) & {P})"
                has_q = f"({x(i, prev)} & {Q}) > 0"
                for j in range(n):
                    if j == 0:
                        cols.append(
                            f"CASE WHEN {has_q} THEN xor({x(0, prev)}, {P}) "
                            f"ELSE xor({x(0, prev)}, {swap}) END AS {x(0, cur)}"
                        )
                    elif j == i:
                        cols.append(
                            f"CASE WHEN {has_q} THEN {x(i, prev)} "
                            f"ELSE xor({x(i, prev)}, {swap}) END AS {x(i, cur)}"
                        )
                    else:
                        cols.append(f"{x(j, prev)} AS {x(j, cur)}")
            ctes.append(
                f"hnd{cur} AS (SELECT * EXCLUDE ("
                + ", ".join(x(j, prev) for j in range(n))
                + "), "
                + ", ".join(cols)
                + f" FROM hnd{prev})"
            )
            step = cur
        Q >>= 1
    # Gray encode as prefix xors of the last step's columns
    prev, cur = step, step + 1
    gray = []
    for i in range(n):
        acc = x(0, prev)
        for j in range(1, i + 1):
            acc = f"xor({acc}, {x(j, prev)})"
        gray.append(f"{acc} AS {x(i, cur)}")
    ctes.append(
        f"hnd{cur} AS (SELECT * EXCLUDE ("
        + ", ".join(x(j, prev) for j in range(n))
        + "), "
        + ", ".join(gray)
        + f" FROM hnd{prev})"
    )
    step = cur
    # t fold over the LAST axis, applied to every axis, then the gather
    t = "0"
    Q = M
    while Q > 1:
        t = f"xor({t}, CASE WHEN ({x(n - 1, step)} & {Q}) > 0 THEN {Q - 1} ELSE 0 END)"
        Q >>= 1
    finals = [f"xor({x(i, step)}, ({t})) AS hxf{i}" for i in range(n)]
    ctes.append(
        f"hndt AS (SELECT * EXCLUDE ("
        + ", ".join(x(j, step) for j in range(n))
        + "), "
        + ", ".join(finals)
        + f" FROM hnd{step})"
    )
    gather = zorder_key_sql([f"hxf{i}" for i in reversed(range(n))], bits)
    ctes.append(
        "hnd_final AS (SELECT * EXCLUDE ("
        + ", ".join(f"hxf{i}" for i in range(n))
        + f"), ({gather}) AS hkey FROM hndt)"
    )
    return ",\n".join(ctes)


def write_hilbert(
    df: DataFrame,
    path: str,
    specs: list[tuple[str, int, int]],
    bits: int = 16,
    n_files: int = 32,
) -> None:
    """``write_zordered``'s Hilbert sibling: range-repartition +
    within-file sort on the Hilbert key, key dropped on write. Two
    columns use the planar walk (DuckDB-mirrored, oracle-able); three
    or more route through ``with_hilbert_key_nd`` (Skilling transform
    — round 10, closing the 2-D-only gap)."""
    if len(specs) < 2:
        raise ValueError("write_hilbert clusters >= 2 columns; use a plain sort for 1")
    if len(specs) > 2:
        cells = df
        names = []
        for c, lo, hi in specs:
            names.append(f"__c_{c}")
            cells = cells.withColumn(names[-1], scale_to_bits_int(c, lo, hi, bits))
        keyed = with_hilbert_key_nd(cells, names, bits).drop(*names)
        (
            keyed.repartitionByRange(n_files, "__hkey")
            .sortWithinPartitions("__hkey")
            .drop("__hkey")
            .write.mode("overwrite")
            .parquet(path)
        )
        return
    (cx, lox, hix), (cy, loy, hiy) = specs
    cells = df.withColumn("__cx", scale_to_bits_int(cx, lox, hix, bits)).withColumn(
        "__cy", scale_to_bits_int(cy, loy, hiy, bits)
    )
    keyed = with_hilbert_key(cells, "__cx", "__cy", bits)
    (
        keyed.drop("__cx", "__cy")
        .repartitionByRange(n_files, "__hkey")
        .sortWithinPartitions("__hkey")
        .drop("__hkey")
        .write.mode("overwrite")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# Incremental re-clustering (round 10) — the OPTIMIZE half of the
# layout story. A z-ordered lake degrades as appends land: new files
# span wide key ranges, so footer pruning stops skipping them. A full
# re-sort of a 100 TB lake per append is impossible; the realistic
# maintenance (Delta OPTIMIZE ZORDER's shape) rewrites ONLY the files
# whose footer boxes prove them badly clustered, leaving the
# well-clustered bulk untouched. Selection is metadata-only (the commit
# record's per-file stats), the rewrite pays one shuffle over just the
# dirty rows, and the swap is ONE remove+add commit in the snapshot log
# (Delta OPTIMIZE's shape): a plain parquet lake is adopted into the
# log first, as on its first DML. The new files are invisible until
# that commit references them, so a crash at any point leaves the head
# and its rows as they were, plus orphans for vacuum_lake; the old
# bytes stay for time travel.
# ---------------------------------------------------------------------------


def cluster_report(
    path: str, specs: list[tuple[str, int, int]], max_span_frac: float = 0.5
) -> dict:
    """Metadata-only clustering health: per clustered column, each
    file's footer span as a fraction of the declared [lo, hi] range. A
    file is DIRTY when any span fraction exceeds ``max_span_frac`` or
    stats are missing (unsorted append, stats-less writer). Returns
    files_total / files_dirty / dirty_files / avg_span_frac."""
    return _cluster_fold(file_stats(path, [c for c, _, _ in specs]), specs, max_span_frac)


def _cluster_fold(
    stats: list[dict], specs: list[tuple[str, int, int]], max_span_frac: float
) -> dict:
    """``cluster_report`` over stats already read — the one stats pass
    ``optimize_clustered`` also takes its row counts from."""
    cols = [c for c, _, _ in specs]
    rng = {c: max(1, hi - lo) for c, lo, hi in specs}
    dirty, fracs = [], []
    for fs in stats:
        worst = 0.0
        bad = False
        for c in cols:
            if c not in fs["min"] or c not in fs["max"]:
                bad = True
                continue
            frac = (float(fs["max"][c]) - float(fs["min"][c])) / rng[c]
            worst = max(worst, frac)
        fracs.append(worst)
        if bad or worst > max_span_frac:
            dirty.append(fs["file"])
    return {
        "files_total": len(stats),
        "files_dirty": len(dirty),
        "dirty_files": sorted(dirty),
        "avg_span_frac": round(sum(fracs) / len(fracs), 4) if fracs else 0.0,
    }


def optimize_clustered(
    spark: SparkSession,
    path: str,
    specs: list[tuple[str, int, int]],
    bits: int = 16,
    *,
    max_span_frac: float = 0.5,
    min_rows: int | None = None,
    curve: str = "zorder",
) -> dict:
    """Rewrite ONLY the badly-clustered (or undersized) files of a
    clustered lake back into tight key ranges, as ONE commit in the
    lake's snapshot log (operators/snapshots.py). A plain parquet lake
    is adopted into the log first (v1 = ``adopt``, the files as they
    are; that commit opens each footer once for its row count and
    stats), as on its first DML; read it through the snapshot readers
    (``read_snapshot``, the catalog) from then on.

    Selection: ONE pass over the commit record's per-file stats of the
    live files (a footer is opened only for a file its record has no
    stats for) picks those whose box spans >
    ``max_span_frac`` of the declared range on any clustered column,
    that lack stats, or that hold fewer than ``min_rows`` rows
    (small-file compaction). PARTITIONED lakes (``dt=...`` directories)
    are selected across every leaf partition directory at once and
    ``dirty_files`` names are leaf-prefixed; files directly under the
    root of a partitioned lake are a writer error and stay untouched.

    Rewrite: the dirty files of ALL leaves rewrite in one pass — one
    read under the head's commit record (explicit schema, so no
    footer-inference job; deletion vectors and column mapping resolve
    as in every reader), one shuffle on (partition columns, cell), one
    write through the record's physical column names. The rows re-sort
    on the curve key and land one file per (leaf, QUAD-ALIGNED key
    prefix cell). Rows never move across partitions (the partition
    value IS the directory). Every output file's bounding box is
    contained in one aligned cell whose per-dim span is <=
    max_span_frac/2 by construction, so a rewrite is IDEMPOTENT — the
    second call finds nothing dirty — rather than hoping sampled range
    boundaries line up with curve seams. Compact files are named
    ``compact-<digest>-<seq>.parquet`` with one digest per call and one
    lake-wide sequence, so no basename repeats across leaves.
    Deletion-vector masks are keyed by lake-relative name; a legacy
    record keying them by a basename several live files share raises
    ``ValueError`` in the read (``_dv_key_files``).

    Commit: ONE optimize commit removes the dirty files and adds the
    compact ones, asserted against the head the pick was planned on (a
    concurrent commit in between rebases or raises). Old bytes stay for
    time travel until ``vacuum_lake``; a crash before the commit leaves
    the head as it was.

    ``curve``: "zorder" (default) or "hilbert" — Hilbert lakes
    (``write_hilbert``) re-cluster on the same curve their files were
    laid out with. BOTH curves' top n*k key bits identify the same
    aligned quadtree cell (k quadrant choices per level), so the
    aligned-cell tightness/idempotence argument is curve-independent."""
    if curve not in ("zorder", "hilbert"):
        raise ValueError(f"curve must be 'zorder' or 'hilbert', got {curve!r}")
    from .snapshots import _dml_head, _lake_file_stats, _read_files, _to_physical

    base = path.rstrip("/")
    # the head read here is the one the swap commit asserts: a commit
    # landing between plan and commit rebases or raises instead of
    # silently resurrecting its files
    info = _dml_head(spark, base)[1]
    names = _data_files(base)
    if any("/" in n for n in names):
        names = [n for n in names if "/" in n]
    stats = _lake_file_stats(base, [c for c, _, _ in specs], {**info, "files": names})
    rep = _cluster_fold(stats, specs, max_span_frac)
    rows_by_file = {fs["file"]: fs["rows"] for fs in stats}
    dirty = set(rep["dirty_files"])
    if min_rows is not None:
        dirty |= {f for f, r in rows_by_file.items() if r < min_rows}
    if not dirty:
        return {**rep, "files_rewritten": 0, "files_written": 0, "rows_rewritten": 0}
    olds = sorted(dirty)
    df = _read_files(spark, base, olds, info)
    # keyed on LOGICAL names, written under the record's PHYSICAL ones:
    # a renamed column keeps its original parquet name
    keyed = _to_physical(_with_cell_key(df, specs, bits, curve, max_span_frac), info)
    return {
        **rep,
        "files_rewritten": len(dirty),
        "files_written": _swap_snapshot(base, info, olds, keyed),
        "rows_rewritten": int(sum(rows_by_file[f] for f in dirty)),
    }


def _with_cell_key(
    df: DataFrame, specs: list[tuple[str, int, int]], bits: int, curve: str, max_span_frac: float
) -> DataFrame:
    """``df`` plus its curve key ``__zkey`` and the key's aligned cell
    prefix ``__zb`` — the unit one compact file covers."""
    import math

    n_dims = len(specs)
    # aligned cells: per-dim prefix depth so a cell's span is at most
    # HALF the dirty threshold — output files can never re-qualify
    per_dim = min(max(1, math.ceil(math.log2(2.0 / max_span_frac))), bits)
    if n_dims == 1:
        # 1-D clustering is a plain range sort — both curves degenerate
        # to the scaled cell itself (common for streaming lakes
        # clustered on one key column)
        c0, lo0, hi0 = specs[0]
        keyed = df.withColumn("__zkey", scale_to_bits_int(c0, lo0, hi0, bits))
    elif curve == "hilbert":
        named = df
        cell_names = []
        for c, lo, hi in specs:
            cell_names.append(f"__cell_{c}")
            named = named.withColumn(cell_names[-1], scale_to_bits_int(c, lo, hi, bits))
        keyed = with_hilbert_key_nd(named, cell_names, bits, out_col="__zkey").drop(*cell_names)
    else:
        cells = [scale_to_bits_int(c, lo, hi, bits) for c, lo, hi in specs]
        keyed = df.withColumn("__zkey", zorder_key(cells, bits))
    return keyed.withColumn("__zb", F.shiftright(F.col("__zkey"), (bits - per_dim) * n_dims))


def _swap_snapshot(base: str, info: dict, dirty: list[str], keyed: DataFrame) -> int:
    """Stage ``keyed`` (the rows of the RELATIVE ``dirty`` files, every
    leaf at once, under physical names), lift each file into its leaf
    and commit the swap against the head ``info`` was read from.
    Returns the number of files written."""
    import hashlib
    import shutil
    import uuid

    from .snapshots import _commit_filechange, _partition_cols

    # one file per (partition leaf, cell), each sorted on the curve key
    tmp = os.path.join(base, "__compact_tmp")
    partition_cols = _partition_cols(dirty)
    (
        keyed.repartition(*partition_cols, "__zb")
        .sortWithinPartitions(*partition_cols, "__zb", "__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .partitionBy(*partition_cols, "__zb")
        .parquet(tmp)
    )
    staged = sorted(
        os.path.join(root, n)
        for root, _dirs, fnames in os.walk(tmp)
        for n in fnames
        if n.endswith(".parquet") and not n.startswith(("_", "."))
    )
    # old bytes stay on disk for time travel, so a rollback +
    # re-optimize re-selects the SAME dirty set: the digest is salted
    # per run, or the new names would overwrite compact files a
    # retained snapshot still references
    digest = hashlib.sha256(("\n".join(dirty) + "|" + uuid.uuid4().hex).encode()).hexdigest()[:12]
    new_names = []
    for i, src in enumerate(staged):
        # staged as tmp/<leaf>/__zb=<cell>/part-*.parquet ("." leaf: flat)
        leaf = os.path.relpath(os.path.dirname(os.path.dirname(src)), tmp)
        new_names.append(os.path.normpath(os.path.join(leaf, f"compact-{digest}-{i:05d}.parquet")))
    # the new files are invisible until the commit references them; a
    # crash before it leaves only vacuum-able orphans
    for src, rel in zip(staged, new_names):
        os.replace(src, os.path.join(base, rel))
    shutil.rmtree(tmp, ignore_errors=True)
    _commit_filechange(
        base,
        info["version"],
        removed=set(dirty),
        added=set(new_names),
        op="optimize",
        summary={"files_rewritten": len(dirty), "files_written": len(new_names)},
    )
    return len(new_names)


# ---------------------------------------------------------------------------
# Per-file Bloom manifest (Y4, round 9) — equality-predicate file
# skipping for STRING/high-cardinality columns, where min/max footer
# stats are useless (and excluded as truncation-unsafe above). One
# Bloom bitmap per (file), built in a single distributed pass with
# input_file_name(), persisted sparse like the seen-keys store
# (operators/bloomstore.py). A point lookup `col = v` then prunes every
# file whose bitmap provably lacks v — the parquet-footer-bloom /
# Iceberg pattern, lifted to the manifest so planning never opens a
# footer. No false negatives by construction; false positives only
# cost a read. Size m for the PER-FILE distinct count — bitmap bytes
# per file is the storage price (keep fpp modest for high-cardinality
# columns).
# ---------------------------------------------------------------------------


def save_bloom_manifest(
    spark: SparkSession,
    path: str,
    col: str,
    manifest_path: str,
    *,
    expected_per_file: int | None = None,
    fpp: float = 0.01,
    n_hashes: int = 5,
) -> None:
    """Build per-file Bloom bitmaps over ``col`` in ONE distributed
    pass (scan + distinct positions + bit_or per file word). The files
    list persists too, so probes can tell "bitmap proves a miss" from
    "file unknown to this manifest" (appended later -> must-read)."""
    from .relational import _bloom_positions, bloom_size_bits

    base = manifest_path.rstrip("/")
    lake = spark.read.parquet(path).select(_relpath_col(path).alias("file"), F.col(col))
    names = _data_files(path)
    if expected_per_file is None:
        total = lake.count()
        expected_per_file = max(1, total // max(1, len(names)))
    m = bloom_size_bits(expected_per_file, fpp)
    pos = lake.select(
        "file", F.explode(F.array(*_bloom_positions([col], m, n_hashes))).alias("__p")
    ).distinct()
    words = pos.groupBy("file", F.shiftright(F.col("__p"), 6).alias("widx")).agg(
        F.bit_or(
            F.call_function(
                "shiftleft", F.lit(1).cast("bigint"), F.col("__p").bitwiseAND(F.lit(63)).cast("int")
            )
        ).alias("word")
    )
    words.write.mode("overwrite").parquet(base + "/words")
    # xxhash64 is TYPE-sensitive (an int probe literal hashes differently
    # from the bigint column it targets), so the built column's Spark
    # dtype persists with (m, k) and every probe casts its literal to it
    # — otherwise a numeric-column probe could "prove" a present value
    # absent (a pruning false negative)
    dtype = lake.schema[col].dataType.simpleString()
    spark.createDataFrame(
        [(col, m, n_hashes, dtype)], "col STRING, m LONG, k INT, dtype STRING"
    ).coalesce(1).write.mode("overwrite").parquet(base + "/meta")
    spark.createDataFrame([(n,) for n in names], "file STRING").coalesce(1).write.mode(
        "overwrite"
    ).parquet(base + "/files")


def bloom_skippable_files(spark: SparkSession, manifest_path: str, value) -> set[str]:
    """Files the Bloom manifest PROVES cannot contain ``value`` on its
    column (some hash bit absent). Only files the manifest has seen can
    be skipped; the probe touches <= k bitmap words per file (one tiny
    filtered scan of the words table), and the value's positions come
    from one 1-row Spark job so the hash is exactly the build's
    xxhash64 — never a Python reimplementation that could drift."""
    from .relational import _bloom_positions

    base = manifest_path.rstrip("/")
    meta = spark.read.parquet(base + "/meta").collect()[0]
    # cast the probe to the BUILT column's dtype: xxhash64(int) !=
    # xxhash64(bigint) for the same value, and a dtype-mismatched probe
    # would skip files that contain it (pre-dtype manifests carry no
    # dtype column and probe as the Python-inferred literal — sound for
    # the string columns they were built over)
    probe = F.lit(value)
    dtype = getattr(meta, "dtype", None) if "dtype" in meta.__fields__ else None
    if dtype:
        probe = probe.cast(dtype)
    pos = (
        spark.range(1)
        .select(probe.alias(meta.col))
        .select(F.array(*_bloom_positions([meta.col], int(meta.m), int(meta.k))).alias("p"))
        .head()
        .p
    )
    need = {}  # widx -> required bit mask
    for p in pos:
        need.setdefault(p >> 6, 0)
        need[p >> 6] |= 1 << (p & 63)
    words = (
        spark.read.parquet(base + "/words")
        .filter(F.col("widx").isin(list(need)))
        .collect()
    )
    have: dict[str, dict[int, int]] = {}
    for r in words:
        have.setdefault(r.file, {})[r.widx] = r.word
    known = {r.file for r in spark.read.parquet(base + "/files").collect()}
    skippable = set()
    for f in known:
        fw = have.get(f, {})
        if any((fw.get(w, 0) & mask) != mask for w, mask in need.items()):
            skippable.add(f)
    return skippable


def append_bloom_manifest(spark: SparkSession, path: str, manifest_path: str) -> None:
    """Day-2 leg: bitmap + files rows for data files the manifest has
    not seen, under the SAME (m, k). O(delta) scan; replay appends
    nothing."""
    from .relational import _bloom_positions

    base = manifest_path.rstrip("/")
    meta = spark.read.parquet(base + "/meta").collect()[0]
    known = {r.file for r in spark.read.parquet(base + "/files").collect()}
    new_names = [n for n in _data_files(path) if n not in known]
    if not new_names:
        return
    lake = (
        spark.read.option("basePath", path)
        .parquet(*[os.path.join(path, n) for n in new_names])
        .select(_relpath_col(path).alias("file"), F.col(meta.col))
    )
    pos = lake.select(
        "file",
        F.explode(F.array(*_bloom_positions([meta.col], int(meta.m), int(meta.k)))).alias("__p"),
    ).distinct()
    words = pos.groupBy("file", F.shiftright(F.col("__p"), 6).alias("widx")).agg(
        F.bit_or(
            F.call_function(
                "shiftleft", F.lit(1).cast("bigint"), F.col("__p").bitwiseAND(F.lit(63)).cast("int")
            )
        ).alias("word")
    )
    words.write.mode("append").parquet(base + "/words")
    spark.createDataFrame([(n,) for n in new_names], "file STRING").coalesce(1).write.mode(
        "append"
    ).parquet(base + "/files")


def _classify_box_files(
    stats: list[dict], box: dict[str, tuple[float, float]], str_eq: dict, col_types: dict | None
) -> tuple[list[str], list[str]]:
    """(inside, boundary) over ``stats`` (``file_stats``' shape) for an
    exact conjunctive (box, str_eq) — the classification behind the
    metadata aggregates (count, min/max candidates, NDV). INSIDE files
    provably match on every row (``_all_rows_match``: safe to consume
    unopened); BOUNDARY files must be read and exactly filtered; the
    rest are provably disjoint (``_skip_rules``)."""
    inside: list[str] = []
    boundary: list[str] = []
    for fs in stats:
        if _skip_rules(fs, box, str_eq, {}, {}, col_types):
            continue
        (inside if _all_rows_match(fs, box, str_eq, col_types) else boundary).append(fs["file"])
    return inside, boundary


def _filtered(df: DataFrame, where: str | None) -> DataFrame:
    """``df`` under the exact predicate string ``where``; all of
    ``df`` when there is none (an empty box)."""
    return df.filter(where) if where else df


def _stats_count(
    stats: list[dict],
    boxes: list[dict],
    where: str,
    col_types: dict | None,
    str_eq: dict | None,
    dv_rows: dict[str, int],
    reader,
) -> int:
    """COUNT(*) from ``stats`` under the union of exact, pairwise
    disjoint ``boxes`` (one box, or the point boxes of an integral
    ``IN``) with the string equalities ``str_eq``: files inside a box
    contribute ``rows`` minus their masked rows (``dv_rows``, by
    relative name) unopened; every boundary file some box may touch is
    read ONCE through ``reader(names)`` and filtered with the exact
    predicate string ``where``. A file inside one point box is provably
    disjoint from the others, so its rows are never counted twice; one
    that is not is read instead."""
    inside: set[str] = set()
    boundary: set[str] = set()
    for box in boxes:
        i, b = _classify_box_files(stats, box, str_eq or {}, col_types)
        inside.update(i)
        boundary.update(b)
    rows = {fs["file"]: fs["rows"] for fs in stats}
    inside -= boundary
    n = sum(int(rows[f]) - dv_rows.get(f, 0) for f in inside)
    if boundary:
        n += reader(sorted(boundary)).filter(where).count()
    return n


def _stats_minmax(
    stats: list[dict],
    col: str,
    box: dict,
    where: str | None,
    col_types: dict | None,
    dv_rows: dict[str, int],
    reader,
    stat_col: str | None = None,
) -> DataFrame:
    """Exact (MIN, MAX) of ``col`` under an exact box, reading only the
    files whose stats (keyed ``stat_col``, the physical name; ``col``
    when None) could hold the extreme: boundary files, masked files (a
    masked file's stat may sit on a masked row), inside files without
    stats on ``col``, and the inside files whose lo could undercut
    every other inside file's lo (resp. hi overcut). A stored stat may
    be a float() fold of the true value (error <= ulp/2), so candidacy
    widens by 2 ulp. The extreme is computed EXACTLY from the read rows
    (``reader(names)`` under the exact predicate string ``where``), so
    it is bit-identical to a full scan."""
    import math

    sc = stat_col or col
    inside, boundary = _classify_box_files(stats, box, {}, col_types)
    by = {fs["file"]: fs for fs in stats}
    read = set(boundary)
    interior = []
    for f in inside:
        if dv_rows.get(f, 0) > 0 or sc not in by[f]["min"] or sc not in by[f]["max"]:
            read.add(f)
        else:
            interior.append(f)
    if interior:
        lo_best = min(by[f]["min"][sc] for f in interior)
        hi_best = max(by[f]["max"][sc] for f in interior)
        slack_lo = 2 * math.ulp(abs(lo_best) or 1.0)
        slack_hi = 2 * math.ulp(abs(hi_best) or 1.0)
        for f in interior:
            if by[f]["min"][sc] <= lo_best + slack_lo or by[f]["max"][sc] >= hi_best - slack_hi:
                read.add(f)
    df = _filtered(reader(sorted(read)), where)
    return df.agg(F.min(col).alias(f"min_{col}"), F.max(col).alias(f"max_{col}"))


def bloom_manifest_stats(spark: SparkSession, manifest_path: str) -> DataFrame:
    """Saturation gauge for the per-file Bloom manifest (the
    bloom_store_stats analogue): per file, set-bit count, fill
    fraction, and the implied false-positive rate fill^k. A file whose
    bitmap saturated (expected_per_file undersized at build) stops
    skipping long before it reads wrong — fpp -> 1 means pruning
    degrades to must-read, never to lost rows — but the gauge says
    WHEN to rebuild with a bigger m."""
    base = manifest_path.rstrip("/")
    meta = spark.read.parquet(base + "/meta").collect()[0]
    words = spark.read.parquet(base + "/words")
    per_file = words.groupBy("file").agg(
        F.sum(F.bit_count("word")).alias("n_set_bits")
    )
    files = spark.read.parquet(base + "/files")
    joined = files.join(per_file, "file", "left").select(
        "file",
        F.coalesce("n_set_bits", F.lit(0)).alias("n_set_bits"),
    )
    fill = F.col("n_set_bits") / F.lit(float(meta.m))
    return joined.select(
        "file",
        "n_set_bits",
        F.round(fill, 6).alias("fill_frac"),
        F.round(F.pow(fill, F.lit(int(meta.k))), 8).alias("implied_fpp"),
    )


def _join_kept(
    spark: SparkSession,
    stats: list[dict],
    col: str,
    keys: list,
    bloom_manifest_path: str | None,
    col_types: dict | None,
) -> list[str]:
    """The files of ``stats`` (``file_stats``' shape) that could
    contain ANY of ``keys`` in ``col`` — the file-level form of dynamic
    partition pruning (round 11). Spark's own DPP prunes partition
    DIRECTORIES from a join's build side; this prunes FILES, three
    ways, all provable:

    * directory-encoded partition value for ``col`` not among the
      keys → skip (every row shares it);
    * stats range [min, max] containing NO key → skip — a PER-KEY
      interval probe (sorted keys + bisect), strictly tighter than the
      one wide [min(keys), max(keys)] box when the key set is sparse
      against a clustered layout; a provably all-null column → skip
      (NULL never equi-joins);
    * Bloom manifest proving every key absent → skip (string /
      high-cardinality complement).

    Files without usable stats or with any key possibly present are
    kept — the superset guarantee of ``_skip_rules``. NULL keys are
    dropped (a NULL never equi-joins)."""
    import bisect

    keys = [k for k in keys if k is not None]
    nums = sorted(
        float(k) for k in keys if isinstance(k, (int, float)) and not isinstance(k, bool)
    )
    others = [k for k in keys if not isinstance(k, (int, float)) or isinstance(k, bool)]
    kept: list[str] = []
    for fs in stats:
        n = fs["file"]
        pv = _partition_values(n).get(col)
        if pv is not None:
            # exact string match, else the numeric fold
            if pv in others:
                kept.append(n)
                continue
            x = _partition_num(pv, col, col_types)
            if x is not None and nums:
                i = bisect.bisect_left(nums, x)
                if i < len(nums) and nums[i] == x:
                    kept.append(n)
                    continue
            # a shared directory value matching no key: provably no row
            # can equi-join
            continue
        if col not in fs["min"] or col not in fs["max"]:
            nc = fs["nulls"].get(col)
            if not (nc is not None and int(nc) == int(fs["rows"])):
                kept.append(n)  # unknown / unstatted: must read
            continue
        lo, hi = float(fs["min"][col]), float(fs["max"][col])
        hit = False
        if nums:
            i = bisect.bisect_left(nums, lo)
            hit = i < len(nums) and nums[i] <= hi
        if others:
            hit = True  # string keys can't be excluded by a numeric range
        if hit:
            kept.append(n)
    if bloom_manifest_path is not None and keys:
        skip = _bloom_skippable(spark, bloom_manifest_path, list(keys))
        kept = [n for n in kept if n not in skip]
    return sorted(kept)


# ---------------------------------------------------------------------------
# NDV sketch manifest (round 11) — per-file Datasketches HLL sketches,
# the Iceberg-puffin/theta pattern: distinct-count statistics that
# MERGE across any file subset. The commit record's stats answer
# COUNT/MIN/MAX from metadata; this adds APPROX_COUNT_DISTINCT: interior files
# (all rows provably match) contribute their persisted sketch
# unopened, boundary files sketch their qualifying rows live, and one
# hll_union_agg folds the lot. Unioning adds no error over sketching
# the union (HLL property), so the estimate matches a direct
# whole-data sketch's error bounds (~1.6% rse at lg_k=12).
# ---------------------------------------------------------------------------

_NDV_LG_K = 12


def save_ndv_manifest(
    spark: SparkSession, path: str, cols: list[str], manifest_path: str, lg_k: int = _NDV_LG_K
) -> None:
    """One distributed pass over the live lake: per (file, col) HLL
    sketch rows (file, col, sketch, lg_k). Values sketch as their
    STRING form so every column type folds consistently and live
    boundary sketches can mirror it exactly."""
    df = spark.read.parquet(path).withColumn("__file", _relpath_col(path))
    aggs = [
        F.hll_sketch_agg(F.col(c).cast("string"), F.lit(lg_k)).alias(c) for c in cols
    ]
    per_file = df.groupBy("__file").agg(*aggs)
    stack = ", ".join(f"'{c}', `{c}`" for c in cols)
    long = per_file.select(
        F.col("__file").alias("file"),
        F.expr(f"stack({len(cols)}, {stack}) as (col, sketch)"),
        F.lit(lg_k).alias("lg_k"),
    )
    long.coalesce(1).write.mode("overwrite").parquet(manifest_path)


def append_ndv_manifest(
    spark: SparkSession, path: str, cols: list[str], manifest_path: str
) -> None:
    """Day-2 leg: sketch ONLY live data files the manifest has not
    seen (O(delta) data read over the new files) and append their
    rows. Until then ``_stats_ndv`` sketches an unseen file live."""
    mf = spark.read.parquet(manifest_path)
    lg_k = int(mf.select(F.max("lg_k")).head()[0] or _NDV_LG_K)
    known = {r.file for r in mf.select("file").distinct().collect()}
    new = [n for n in _data_files(path) if n not in known]
    if not new:
        return
    df = spark.read.option("basePath", path).parquet(
        *[os.path.join(path, n) for n in new]
    ).withColumn("__file", _relpath_col(path))
    aggs = [
        F.hll_sketch_agg(F.col(c).cast("string"), F.lit(lg_k)).alias(c) for c in cols
    ]
    per_file = df.groupBy("__file").agg(*aggs)
    stack = ", ".join(f"'{c}', `{c}`" for c in cols)
    long = per_file.select(
        F.col("__file").alias("file"),
        F.expr(f"stack({len(cols)}, {stack}) as (col, sketch)"),
        F.lit(lg_k).alias("lg_k"),
    )
    long.coalesce(1).write.mode("append").parquet(manifest_path)


def _stats_ndv(
    spark: SparkSession,
    stats: list[dict],
    ndv_manifest_path: str,
    col: str,
    box: dict,
    where: str | None,
    col_types: dict | None,
    str_eq: dict | None,
    dv_rows: dict[str, int],
    reader,
) -> int:
    """APPROX_COUNT_DISTINCT(col) with metadata doing the interior
    work: inside files (``_classify_box_files``) union their PERSISTED
    sketches unopened; boundary files — plus inside files the NDV
    manifest hasn't sketched, and MASKED ones (``dv_rows``: their
    sketch counts masked rows) — sketch their exactly-filtered rows
    live through ``reader(names)``; one ``hll_union_agg`` merges
    everything. With no box, every file is inside. Estimate error
    matches a direct sketch of the qualifying rows (union adds none,
    and re-sketching a masked file's live rows drops exactly the
    masked-only values)."""
    inside, boundary = _classify_box_files(stats, box, str_eq or {}, col_types)
    mf = spark.read.parquet(ndv_manifest_path)
    lg_k = int(mf.select(F.max("lg_k")).head()[0] or _NDV_LG_K)
    sketched = {
        r.file for r in mf.filter(F.col("col") == col).select("file").distinct().collect()
    }
    live = set(boundary) | {f for f in inside if f not in sketched or dv_rows.get(f, 0) > 0}
    inside = [f for f in inside if f not in live]
    parts = []
    if inside:
        parts.append(
            mf.filter(F.col("col") == col)
            .filter(F.col("file").isin(inside))
            .select("sketch")
        )
    if live:
        parts.append(
            _filtered(reader(sorted(live)), where).agg(
                F.hll_sketch_agg(F.col(col).cast("string"), F.lit(lg_k)).alias("sketch")
            )
        )
    if not parts:
        return 0
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    # an all-filtered boundary read yields a NULL sketch; union must
    # not choke on it (0 qualifying rows contribute 0 distincts)
    row = (
        union.filter(F.col("sketch").isNotNull())
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch", F.lit(True))).alias("ndv"))
        .head()
    )
    return int(row.ndv) if row is not None and row.ndv is not None else 0
