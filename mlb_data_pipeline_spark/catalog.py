"""Catalog: named access to the engine's tables.

The driver testdata (TESTDATA.md) is a TPC-H-ish star schema plus
``events`` (stream), ``documents`` (text corpus) and ``embeddings``
(vector table), one parquet file per table under a scale-factor dir.

``load_table`` returns plain DataFrames. Reads use the parquet footer
schema (no inference cost); filters/projections push down to the scan
(Parquet row-group stats + column projection).

Loaded tables are cached per (application, sf_dir, table): a DataFrame is
an immutable analyzed plan over an immutable testdata path, so re-loading
re-pays file listing + footer analysis for nothing — a catalog's whole job
is to hand out resolved relations (same role as the oracle's DuckDB
views). The cache is keyed by applicationId so a restarted session never
sees another session's plans.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count of a catalog table from parquet FOOTER metadata —
    no Spark job. The parquet footer's num_rows is exact by format
    contract, so this equals ``load_table(...).count()`` while costing a
    driver-side footer read instead of a scan job (guide §1: a count
    used only to SIZE an operator — LSH caps, gather budgets — is
    metadata, not computation). Handles both a single parquet file and a
    directory of part files; at cluster scale a catalog table with
    thousands of files belongs in the lake layer, whose metadata count
    (``lake_count``) distributes footer reads — this helper is the plain
    path-table sibling."""
    import pyarrow.parquet as pq

    path = table_path(sf_dir, name)
    if os.path.isdir(path):
        # hidden entries (``_SUCCESS``, ``_temporary/``, ``.crc``
        # checksums) are skipped, as spark.read.parquet skips them
        entries = sorted(e for e in os.listdir(path) if not e.startswith(("_", ".")))
        # fail LOUDLY on layouts this flat walk cannot count (ADVICE
        # r14): spark.read.parquet recurses into partition
        # subdirectories, so silently skipping them (or an empty match)
        # would return an undercount that downstream operators use to
        # size LSH caps and gather budgets — wrong rows, not just wrong
        # speed. Partitioned/nested tables belong to the lake layer's
        # metadata count (lake_count).
        if any(os.path.isdir(os.path.join(path, e)) for e in entries):
            raise ValueError(
                f"table_row_count({name!r}): {path} contains subdirectories "
                "(partitioned/nested layout); use the lake layer's metadata "
                "count or a Spark count for non-flat tables"
            )
        if not entries:
            raise ValueError(
                f"table_row_count({name!r}): no parquet files under {path}"
            )
        return sum(
            int(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows)
            for f in entries
        )
    return int(pq.ParquetFile(path).metadata.num_rows)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Resolve ``name`` to a DataFrame over ``sf_dir``'s parquet.

    SESSION SIDE EFFECT: on a cache-miss load this pins
    ``spark.sql.session.timeZone`` to UTC — the engine's determinism
    contract (and the DuckDB oracle's naive-timestamp semantics) assume
    it, and a vanilla driver session carries the host zone. A caller who
    deliberately pinned a different zone gets it overridden; a warning
    is emitted so the override is never silent (cache hits skip the pin,
    so without the warning behavior would depend on load order).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key in _TABLE_CACHE:
        return _TABLE_CACHE[key]
    tz = spark.conf.get("spark.sql.session.timeZone", "")
    if tz not in ("UTC", "Etc/UTC"):
        if tz:  # never silent: a deliberate caller pin is being clobbered
            import warnings

            warnings.warn(
                f"load_table is overriding session timeZone {tz!r} -> UTC "
                "(engine determinism contract); results are UTC-normalized",
                stacklevel=2,
            )
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # The driver may hand us a vanilla session; this conf is
        # runtime-settable and required to read TIMESTAMP(NANOS) parquet.
        # Set only when missing so repeated loads don't churn session state.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as long (nanosAsLong); values are exact
        # microseconds, so integer-divide — no precision loss.
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Parquet written with isAdjustedToUTC=false reads as TIMESTAMP_NTZ;
    # the engine (and every oracle) is built on session-TZ TIMESTAMP with
    # the session pinned to UTC, where the two are value-identical but
    # NTZ breaks instant-typed functions (unix_micros etc.). Normalize at
    # the catalog boundary — a zero-cost projection, wall-clock values
    # unchanged.
    ntz_cols = [fld for fld, dtype in df.dtypes if dtype == "timestamp_ntz"]
    if ntz_cols:
        from pyspark.sql import functions as F

        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
    _TABLE_CACHE[key] = df
    return df


# ---------------------------------------------------------------------------
# Lake-table catalog with AUTOMATIC metadata-planned reads.
#
# A user writing plain ``spark.read.parquet`` gets no file skipping from
# the metadata the lake carries. Registering a lake table here closes
# that gap — ``lake_scan(spark, name, predicate)`` derives skip clauses
# FROM the predicate itself, plans the read with no caller opt-in, then
# applies the exact predicate on top (pruning stays a superset
# guarantee, so an unparseable conjunct only costs skipping, never
# rows). This is the Python-side analogue of a Catalyst data-skipping
# rule: the table registration is the "catalog", the predicate→clause
# extraction is the planning hook.
#
# Registration adopts a plain parquet lake into the snapshot log
# (``snapshots._adopt``), so a registered table is always a snapshot
# lake. Every read resolves its ref (head, version, as-of timestamp,
# branch) to ONE commit record (``_lake_info``), plans from that
# record's per-file stats (``snapshots._lake_file_stats``) with one
# per-file rule (``layout._skip_rules`` / ``layout._all_rows_match``,
# which snapshot DML uses too), and reads through one reader
# (``snapshots._read_files``: the record's schema, deletion-vector
# masks and column mapping hold on every read). Partition values and
# Bloom manifests prune too.
#
# Supported conjunct shapes (the same fragments a row-group pruner
# handles): ``col BETWEEN a AND b``, ``col >= a``, ``col > a``,
# ``col <= b``, ``col < b``, ``col = v`` (numeric -> box point; quoted
# string -> Bloom probe when a Bloom manifest is registered for the
# column), ``col IN (v1, v2, ...)`` (strings -> Bloom IN-list).
# Date/timestamp literals (bare ISO strings or ``DATE '...'`` /
# ``TIMESTAMP '...'``) fold to the SAME epoch units the stats store
# (epoch days / epoch seconds, layout._stat_num) when the lake
# schema says the column is temporal. Top-level ``OR`` prunes with the
# UNION of per-branch skip decisions (round 11); ``NOT`` still bails to
# must-read-everything. Anything else contributes no skip clause.
# ---------------------------------------------------------------------------

_LAKE_TABLES: dict[tuple[str, str], dict] = {}

_INF = float("inf")

# Spark simpleString dtypes whose columns take only integer values —
# dates included because the stats fold them to whole epoch days
_INTEGRAL_TYPES = frozenset({"tinyint", "smallint", "int", "bigint", "date"})


def register_lake_table(
    spark: SparkSession,
    name: str,
    path: str,
    bloom_manifests: dict[str, str] | None = None,
    ndv_manifest: str | None = None,
) -> None:
    """Register a lake directory plus its (optional) persisted
    manifests under ``name``. Scoped per application like the table
    cache — a restarted session re-registers.

    A plain parquet directory is adopted into the snapshot log first
    (``snapshots._adopt``: v1 = ``adopt`` over its data files, each
    footer opened once, the schema recorded); on a lake that already
    has a log this costs one listing. Every read then plans from the
    commit records. Appends go through ``lake_write``: a file written
    into the directory outside the snapshot writers is not part of the
    table. Registration raises, and registers nothing, when the
    directory does not exist or the adoption commit cannot be written.
    ``bloom_manifests`` ({col: manifest}) prune equalities;
    ``ndv_manifest`` (round 11) carries per-file HLL sketches for
    ``lake_approx_distinct``."""
    from .operators.snapshots import _adopt

    if not os.path.isdir(path):
        raise ValueError(f"no lake directory at {path!r}")
    _adopt(spark, path)
    _LAKE_TABLES[(spark.sparkContext.applicationId, name)] = {
        "path": path,
        "bloom_manifests": dict(bloom_manifests or {}),
        "ndv_manifest": ndv_manifest,
    }


_NUM = r"-?\d+(?:\.\d+)?"
_STR = r"'(?:[^']*)'"
# a literal may carry a DATE/TIMESTAMP type keyword prefix
_LIT = rf"(?:(?i:DATE|TIMESTAMP)\s+)?(?:{_NUM}|{_STR})"
_COL = r"[A-Za-z_][A-Za-z0-9_]*"


def _scrub(predicate: str) -> str:
    """Blank string-literal CONTENTS with a same-length '#' filler.
    Keyword detection, separator location, and every unanchored scan
    run on the scrubbed text so they can never see inside literals —
    and because the scrub preserves LENGTH, any scrubbed offset maps
    1:1 onto the original, so conjunct text (with its literals intact)
    is recovered by slicing the original at scrubbed-located spans.
    (Round 11 fix: the old code split conjuncts on the RAW text, so a
    literal containing two ANDs minted a fake conjunct that unsoundly
    pruned files.)"""
    import re

    return re.sub(_STR, lambda m: "'" + "#" * (len(m.group(0)) - 2) + "'", predicate)


def _parse_lit(tok: str):
    tok = tok.strip()
    if tok[:4].upper() == "DATE" and not tok[4:5].isalnum() and tok[4:5] != "_":
        tok = tok[4:].strip()
    elif tok[:9].upper() == "TIMESTAMP" and not tok[9:10].isalnum() and tok[9:10] != "_":
        tok = tok[9:].strip()
    if tok.startswith("'"):
        return tok[1:-1]
    return float(tok) if "." in tok else int(tok)


def _temporal_num(col: str, val, col_types: dict | None):
    """Fold an ISO date/timestamp string literal on a temporal column
    to the SAME epoch units the per-file stats store (layout._stat_num:
    dates as epoch DAYS, timestamps as epoch SECONDS, session-UTC).
    None when the column is not temporal or the literal doesn't parse
    — the caller degrades to must-read on that conjunct."""
    import datetime as _dt
    import re

    if not isinstance(val, str) or not col_types:
        return None
    t = col_types.get(col)
    if t == "date":
        if re.fullmatch(r"\d{4}-\d{2}-\d{2}", val):
            return float((_dt.date.fromisoformat(val) - _dt.date(1970, 1, 1)).days)
        return None
    if t in ("timestamp", "timestamp_ntz"):
        m = re.fullmatch(r"(\d{4}-\d{2}-\d{2})(?:[ T](\d{2}:\d{2}:\d{2}(?:\.\d{1,6})?))?", val)
        if not m:
            return None
        ts = _dt.datetime.fromisoformat(m.group(1) + "T" + (m.group(2) or "00:00:00"))
        return (ts - _dt.datetime(1970, 1, 1)).total_seconds()
    return None


def _split_top(orig: str, scrub: str, word: str) -> list[tuple[str, str]]:
    """Split both texts at depth-0 occurrences of keyword ``word``
    (located on the scrubbed twin, so literals and parenthesized
    subtrees are never severed). Returns (orig_frag, scrub_frag)
    pairs — equal length in, equal offsets out."""
    import re

    parts: list[tuple[str, str]] = []
    last = depth = 0
    for m in re.finditer(rf"(?i)\b{word}\b|[()]", scrub):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            parts.append((orig[last : m.start()], scrub[last : m.start()]))
            last = m.end()
    parts.append((orig[last:], scrub[last:]))
    return parts


def _unwrap2(orig: str, scrub: str) -> tuple[str, str]:
    """Strip BALANCED outer parens from the pair, deciding balance on
    the scrubbed twin (a ')' inside a string literal must not break the
    scan). The scrub preserves every char outside literal interiors, so
    identical strips keep the texts aligned."""
    orig, scrub = orig.strip(), scrub.strip()
    while scrub.startswith("(") and scrub.endswith(")"):
        depth = 0
        ok = True
        for ch in scrub[1:-1]:
            depth += {"(": 1, ")": -1}.get(ch, 0)
            if depth < 0:
                ok = False
                break
        if not ok:
            break
        orig, scrub = orig[1:-1].strip(), scrub[1:-1].strip()
    return orig, scrub


def _extract_conjuncts(
    orig: str, scrub: str, col_types: dict | None
) -> tuple[dict, dict, dict, dict]:
    """(box, equals, nots, nullness) from one conjunctive branch. box:
    {col: (lo, hi)} with +-inf open ends (folded per column); equals:
    {col: scalar-or-list} for equality / IN (Bloom probes); nots: {col:
    [vals]} for ``<>``/``!=`` — prunable ONLY against directory-encoded
    partition values, where every row provably shares the value
    (round 11); nullness: {col: 'null'|'notnull'} for ``IS [NOT]
    NULL`` — prunable from the per-file null counts
    (``IS NULL`` skips null-free files, ``IS NOT NULL`` skips all-null
    files) and from partition values (directory-encoded => non-null).
    Unmatched conjuncts contribute no skip clause (must-read on that
    aspect)."""
    import re

    box: dict[str, list[float]] = {}
    equals: dict[str, object] = {}
    nots: dict[str, list] = {}
    nullness: dict[str, str] = {}

    def fold(col: str, lo, hi) -> None:
        cur = box.setdefault(col, [-_INF, _INF])
        cur[0] = max(cur[0], lo)
        cur[1] = min(cur[1], hi)

    def bound(col: str, lit):
        # numeric literal -> itself; temporal string -> epoch units;
        # other strings -> None (no box contribution)
        if not isinstance(lit, str):
            return lit
        return _temporal_num(col, lit, col_types)

    def integral(col: str) -> bool:
        # strict bounds tighten by one WHOLE unit only when the column
        # provably takes integer values (dates fold to whole epoch
        # days) — on a double column, x < 5 admits 4.5, so the box
        # must keep the widened inclusive bound
        return (col_types or {}).get(col) in _INTEGRAL_TYPES

    # BETWEEN first, located on the scrubbed text (the AND split below
    # would sever it at BETWEEN's own AND); literal tokens recovered
    # from the original by span so date strings survive the scrub.
    # DEPTH-0 MATCHES ONLY: this branch is conjunctive at its top level
    # (any depth-0 OR was split off by _or_leaves), but a BETWEEN inside
    # parentheses can sit under a nested OR — e.g.
    # ``k >= 0 AND (k IS NOT NULL OR k BETWEEN 0 AND 0)`` — where
    # folding it as a conjunct is unsound (it silently intersected the
    # box with [0, 0]). Parenthesized whole-conjunct BETWEENs are
    # handled soundly by the fullmatch arm in the loop below instead.
    depth_at = []
    d = 0
    for ch in scrub:
        depth_at.append(d)
        d += {"(": 1, ")": -1}.get(ch, 0)
    for m in re.finditer(
        rf"({_COL})\s+(?i:BETWEEN)\s+({_LIT})\s+(?i:AND)\s+({_LIT})", scrub
    ):
        if depth_at[m.start()] != 0:
            continue
        col = m.group(1)
        lo = bound(col, _parse_lit(orig[m.start(2) : m.end(2)]))
        hi = bound(col, _parse_lit(orig[m.start(3) : m.end(3)]))
        if lo is not None and hi is not None:
            fold(col, lo, hi)

    for conj_o, conj_s in _split_top(orig, scrub, "AND"):
        c, cs = _unwrap2(conj_o, conj_s)
        # a parenthesized BETWEEN conjunct — ``(k BETWEEN 1 AND 2)`` —
        # survives the AND split whole (its AND is inside parens) but
        # the depth-gated pre-pass above skipped it; fullmatch makes it
        # provably THE conjunct, so folding is sound here
        m = re.fullmatch(rf"({_COL})\s+(?i:BETWEEN)\s+({_LIT})\s+(?i:AND)\s+({_LIT})", cs)
        if m:
            col = m.group(1)
            lo = bound(col, _parse_lit(c[m.start(2) : m.end(2)]))
            hi = bound(col, _parse_lit(c[m.start(3) : m.end(3)]))
            if lo is not None and hi is not None:
                fold(col, lo, hi)
            continue
        m = re.fullmatch(rf"({_COL})\s+(?i:IS)(\s+(?i:NOT))?\s+(?i:NULL)", c)
        if m:
            col, kind = m.group(1), "notnull" if m.group(2) else "null"
            if nullness.get(col, kind) != kind:
                # col IS NULL AND col IS NOT NULL: contradictory — no
                # sound single verdict, contribute nothing (must-read)
                nullness.pop(col, None)
            else:
                nullness[col] = kind
            continue
        m = re.fullmatch(rf"({_COL})\s*(!=|<>)\s*({_LIT})", c)
        if m:
            nots.setdefault(m.group(1), []).append(_parse_lit(m.group(3)))
            continue
        m = re.fullmatch(rf"({_COL})\s*(>=|>|<=|<|=|==)\s*({_LIT})", c)
        if m:
            col, op, lit = m.group(1), m.group(2), _parse_lit(m.group(3))
            if op in ("=", "=="):
                # equality skips BOTH ways: a box point for the min/max
                # stats (numeric or temporal-folded) AND a Bloom
                # probe if one is registered for the column
                equals[col] = lit
                b = bound(col, lit)
                if b is not None:
                    fold(col, b, b)
            else:
                b = bound(col, lit)
                if b is None:
                    continue
                # strict ops on integral columns tighten exactly by one
                # unit (col < '1997-05-01' excludes the May 1 file);
                # otherwise they widen to inclusive bounds — pruning is
                # a superset guarantee, so widening is always sound
                exact1 = integral(col) and float(b).is_integer()
                if op == ">":
                    fold(col, b + 1 if exact1 else b, _INF)
                elif op == ">=":
                    fold(col, b, _INF)
                elif op == "<":
                    fold(col, -_INF, b - 1 if exact1 else b)
                else:
                    fold(col, -_INF, b)
            continue
        m = re.fullmatch(rf"({_COL})\s+(?i:IN)\s*\(({_LIT}(?:\s*,\s*{_LIT})*)\)", c)
        if m:
            col = m.group(1)
            vals = [_parse_lit(t) for t in re.findall(_LIT, m.group(2))]
            if vals:
                equals[col] = vals
                nums = [bound(col, v) for v in vals]
                if all(n is not None for n in nums):
                    fold(col, min(nums), max(nums))
        # unmatched conjunct: contributes no skip clause (must-read)
    return {c: (lo, hi) for c, (lo, hi) in box.items()}, equals, nots, nullness


def _or_leaves(orig: str, scrub: str) -> list[tuple[str, str]]:
    """Recursive depth-0 OR split (unwrapping balanced parens between
    levels) down to purely conjunctive leaves."""
    orig, scrub = _unwrap2(orig, scrub)
    parts = _split_top(orig, scrub, "OR")
    if len(parts) == 1:
        return [(orig, scrub)]
    out: list[tuple[str, str]] = []
    for po, ps in parts:
        out.extend(_or_leaves(po, ps))
    return out


def _extract_skip_branches(
    predicate: str, col_types: dict | None = None
) -> list[tuple[dict, dict, dict, dict]] | None:
    """Per-OR-branch (box, equals, nots, nullness) skip clauses. A file may be
    skipped only when EVERY branch proves it irrelevant, so the caller
    prunes with the UNION of per-branch keep sets. Returns None when no
    pruning is possible: NOT anywhere (per-conjunct extraction is
    unsound under negation), or some branch with no usable clause
    (that branch must read everything, and union-with-everything is
    everything)."""
    import re

    scrub = _scrub(predicate)
    # NOT bails EXCEPT the "IS NOT NULL" phrase, which the conjunct
    # extractor handles soundly
    if re.search(r"(?i)\bNOT\b(?!\s+NULL\b)", scrub):
        return None
    branches = []
    for o, s in _or_leaves(predicate.strip(), scrub.strip()):
        box, equals, nots, nullness = _extract_conjuncts(o, s, col_types)
        if not box and not equals and not nots and not nullness:
            return None
        branches.append((box, equals, nots, nullness))
    return branches


def _lake_entry(spark: SparkSession, name: str) -> dict:
    ent = _LAKE_TABLES.get((spark.sparkContext.applicationId, name))
    if ent is None:
        raise KeyError(f"unknown lake table {name!r}; register_lake_table first")
    return ent


def _lake_col_types(spark: SparkSession, ent: dict) -> dict:
    """col -> Spark simpleString dtype for the lake — the type context
    temporal literal folding needs (a bare '1997-01-01' means epoch
    days on a date column, nothing on a string column). Cached on the
    registration entry KEYED TO THE HEAD VERSION (round 12): a
    schema-evolution commit (``lake_write allow_schema_evolution``)
    invalidates the cache, so a long-lived session folds predicates on
    the added column without re-registration.

    Source of truth: the head COMMIT RECORD's persisted schema (round
    12 — zero file reads), else the merge-schema snapshot read of a
    pre-round-12 log without the schema leg."""
    from .operators.snapshots import current_version, read_snapshot, snapshot_info

    ver = current_version(ent["path"])
    if "col_types" not in ent or ent.get("col_types_ver") != ver:
        sj = snapshot_info(ent["path"], ver).get("schema")
        if sj:
            import json as _json

            from pyspark.sql.types import StructType

            schema = StructType.fromJson(_json.loads(sj))
        else:
            schema = read_snapshot(spark, ent["path"], ver).schema
        ent["col_types"] = {f.name: f.dataType.simpleString() for f in schema.fields}
        ent["col_types_ver"] = ver
    return ent["col_types"]


def _lake_info(
    ent: dict,
    version: int | str | None = None,
    as_of_ts: float | None = None,
    branch: str | None = None,
) -> dict:
    """The one ref resolver of the catalog's reads: ``branch=`` /
    ``version=`` (a number or a tag) / ``as_of_ts=`` / the head, as
    the ref's commit record — one read, sharded records resolved — so
    the read is planned from its ``file_stats`` and read through it
    (``snapshots._read_files``). Raises ``ValueError`` for two refs at
    once and, on a branch or version ref, for a record whose files are
    missing (vacuumed); a head read probes no file (its planning stays
    metadata-only)."""
    from .operators.snapshots import _ref_info, snapshot_info, version_as_of

    path = ent["path"]
    if branch is not None:
        if version is not None or as_of_ts is not None:
            raise ValueError("pass branch= or version=/as_of_ts=, not both")
        info = _ref_info(path, branch=branch)
        gone = f"branch {branch!r} references {{n}} missing file(s) (e.g. {{e!r}})"
    else:
        if as_of_ts is not None:
            # SELECT ... AS OF TIMESTAMP: the latest version committed
            # at or before the instant
            if version is not None:
                raise ValueError("pass version= or as_of_ts=, not both")
            version = version_as_of(path, as_of_ts)
        if version is None:
            return snapshot_info(path)
        info = snapshot_info(path, version)
        gone = (
            "snapshot references {n} vacuumed file(s) (e.g. {e!r}) — expired "
            "versions cannot be read"
        )
    missing = [n for n in sorted(info["files"]) if not os.path.exists(os.path.join(path, n))]
    if missing:
        raise ValueError(gone.format(n=len(missing), e=missing[0]))
    return info


def _plan_skips(
    spark: SparkSession, ent: dict, info: dict, predicate: str
) -> tuple[int, dict[str, set[str]]]:
    """(OR-branches, {skipped file: rules}) of ``predicate`` over
    ``info``'s files — the one plan behind ``lake_scan`` and
    ``lake_explain``. Skip clauses are translated to the record's
    PHYSICAL column names (column mapping, round 14), the names its
    stats are keyed by; Bloom manifests probe the registered column of
    an equality. (0, {}) when no conjunct is usable."""
    from .operators.layout import _bloom_skippable, _skipped_files
    from .operators.snapshots import _lake_file_stats, _phys_keyed

    col_types = _lake_col_types(spark, ent)
    branches = _extract_skip_branches(predicate, col_types)
    if not branches:
        return 0, {}
    phys = info.get("phys") or {}
    branches = _phys_keyed(branches, phys)
    col_types = _phys_keyed(col_types, phys)
    cols = sorted({c for br in branches for part in br for c in part})
    blooms = ent["bloom_manifests"]
    cache: dict[tuple, set[str]] = {}

    def bloom_skip(equals: dict) -> set[str]:
        out: set[str] = set()
        for c, v in equals.items():
            if c in blooms:
                key = (c, repr(v))
                if key not in cache:
                    cache[key] = _bloom_skippable(spark, blooms[c], v)
                out |= cache[key]
        return out

    stats = _lake_file_stats(ent["path"], cols, info)
    return len(branches), _skipped_files(stats, branches, col_types, bloom_skip)


def _scan(spark: SparkSession, ent: dict, info: dict, predicate: str | None) -> DataFrame:
    """The pruned read of ``info`` under ``predicate`` (``lake_scan``'s
    body)."""
    from .operators.snapshots import _read_files

    names = sorted(info["files"])
    if predicate:
        _, skipped = _plan_skips(spark, ent, info, predicate)
        names = [n for n in names if n not in skipped]
    df = _read_files(spark, ent["path"], names, info)
    return df.filter(predicate) if predicate else df


def lake_scan(
    spark: SparkSession,
    name: str,
    predicate: str | None = None,
    version: int | str | None = None,
    as_of_ts: float | None = None,
    branch: str | None = None,
) -> DataFrame:
    """Read a registered lake table, automatically skipping files
    metadata proves irrelevant to ``predicate`` — then apply the exact
    predicate. Top-level OR predicates prune with the UNION of
    per-branch keep sets; a predicate with no usable conjunct reads
    every file.

    The ref — the head, ``version`` (a committed version or tag: TIME
    TRAVEL), ``as_of_ts`` (the latest version committed at or before
    the instant) or ``branch`` (a WAP branch's head, the audit read) —
    resolves to one commit record (``_lake_info``). The plan comes from
    that record's per-file stats, partition values and any registered
    Bloom manifests, and the kept files are read through the record
    (its schema, deletion-vector masks and column mapping)."""
    ent = _lake_entry(spark, name)
    return _scan(spark, ent, _lake_info(ent, version, as_of_ts, branch), predicate)


def lake_explain(
    spark: SparkSession,
    name: str,
    predicate: str | None = None,
    version: int | str | None = None,
    branch: str | None = None,
) -> dict:
    """EXPLAIN for the catalog hook's file-skipping decision: which
    files of the ref (head, ``version`` or ``branch``) a
    ``lake_scan(name, predicate)`` would read, which it would skip,
    and WHY — per skipped file the set of rules that fired
    (``partition`` directory value, ``stats`` min/max miss or all-null
    column, ``nulls`` null-count rule, ``bloom`` bitmap miss). A file
    is skipped only when EVERY OR-branch proves it irrelevant; the
    reasons union across branches. Metadata-only (no data read).

    The plan is ``lake_scan``'s own (``_plan_skips``), so the kept set
    here equals what ``lake_scan`` reads — pinned by test."""
    ent = _lake_entry(spark, name)
    info = _lake_info(ent, version, branch=branch)
    live = sorted(info["files"])
    out = {
        "table": name,
        "predicate": predicate,
        "files_total": len(live),
        "files_kept": len(live),
        "files_skipped": 0,
        "skip_frac": 0.0,
        "branches": 0,
        "skipped": {},
    }
    if not predicate:
        return out
    n_branches, skipped = _plan_skips(spark, ent, info, predicate)
    if not n_branches:
        out["reason"] = "no usable conjunct — full scan + exact filter"
        return out
    out["branches"] = n_branches
    out["files_kept"] = len(live) - len(skipped)
    out["files_skipped"] = len(skipped)
    out["skip_frac"] = round(len(skipped) / len(live), 4) if live else 0.0
    out["skipped"] = {n: sorted(skipped[n]) for n in sorted(skipped)}
    return out


def lake_join_scan(
    spark: SparkSession,
    name: str,
    dim: DataFrame,
    fact_col: str,
    dim_col: str | None = None,
    max_keys: int = 100_000,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Inner equi-join a registered lake FACT table (its head) to a
    small ``dim`` DataFrame with FILE-LEVEL dynamic pruning (round 11):
    the dim's distinct join keys are collected (bounded by
    ``max_keys``) and turned into a provable keep set before any fact
    data is read — partition-value equality, per-key interval probes
    against each file's stats in the commit record, and Bloom-manifest
    IN-list probes (``layout._join_kept``). The kept files read through
    the record (``snapshots._read_files``), so deletion-vector masks
    and column mapping hold and ``fact_col`` is the logical column.

    Spark's own dynamic partition pruning handles hive-partitioned
    keys; this extends the idea to unpartitioned-but-CLUSTERED lakes,
    where a selective dim (a few customers, one brand) touches a few
    files of a range-laid-out fact table instead of all of them.

    Degradation: a dim wider than ``max_keys`` distinct keys falls
    back to the whole-lake read + join (the keep set would approach
    everything anyway). The join itself broadcasts the dim by default
    (``broadcast_dim=False`` for a large dim after fallback)."""
    from pyspark.sql import functions as F

    from .operators.layout import _join_kept
    from .operators.snapshots import _lake_file_stats, _phys_keyed, _read_files

    ent = _lake_entry(spark, name)
    info = _lake_info(ent)
    dcol = dim_col or fact_col
    if dcol not in dim.columns:
        raise ValueError(f"dim has no column {dcol!r}")
    keys_df = dim.select(F.col(dcol).alias("__jk")).distinct()
    probe = [r["__jk"] for r in keys_df.limit(max_keys + 1).collect()]
    right = F.broadcast(dim) if broadcast_dim else dim
    cond_name = fact_col if dim_col is None else None
    files = sorted(info["files"])
    if len(probe) <= max_keys:
        phys = info.get("phys") or {}
        pcol = phys.get(fact_col, fact_col)
        files = _join_kept(
            spark,
            _lake_file_stats(ent["path"], [pcol], info),
            pcol,
            probe,
            ent["bloom_manifests"].get(fact_col),
            _phys_keyed(_lake_col_types(spark, ent), phys),
        )
    base = _read_files(spark, ent["path"], files, info)
    if cond_name is not None:
        return base.join(right, on=cond_name, how="inner")
    return base.join(right, on=base[fact_col] == right[dcol], how="inner")


def _extract_exact_clauses(
    predicate: str, col_types: dict | None = None
) -> tuple[dict, dict, tuple | None] | None:
    """The strict extractor behind ``lake_count``'s metadata fast path:
    clauses are returned ONLY when they are semantically EQUAL to the
    whole predicate (every conjunct inclusive and fully captured),
    because interior files are counted WITHOUT being opened — the
    superset-only widening ``lake_scan`` tolerates (strict ops, dropped
    conjuncts) would overcount here.

    Returns (box, str_eq, points) or None:
    * box {col: (lo, hi)} — ``BETWEEN``, ``>=``, ``<=``,
      numeric/temporal-date ``=`` (all closed bounds) plus ``>``/``<``
      on provably integral columns (tightened exactly by one unit);
    * str_eq {col: 'val'} — string equality on STRING columns, exact
      against directory-encoded partition values (every row of a file
      shares them), boundary-read everywhere else;
    * points — at most ONE ``col IN (v1..vn)`` over distinct integral
      values, answered as a sum of disjoint point-box counts.
    Timestamp columns are excluded (their epoch-second fold can round
    sub-second literals); date columns fold exactly (whole epoch
    days)."""
    import re

    scrub = _scrub(predicate)
    if re.search(r"(?i)\b(OR|NOT)\b", scrub):
        return None
    orig, scrub = _unwrap2(predicate.strip(), scrub.strip())
    box: dict[str, list[float]] = {}
    str_eq: dict[str, str] = {}
    points: tuple | None = None

    def fold(col: str, lo, hi) -> None:
        cur = box.setdefault(col, [-_INF, _INF])
        cur[0] = max(cur[0], lo)
        cur[1] = min(cur[1], hi)

    def bound(col: str, lit):
        if not isinstance(lit, str):
            return lit
        if (col_types or {}).get(col) != "date":
            return None
        return _temporal_num(col, lit, col_types)

    # fold BETWEENs first, then BLANK each match in both texts (equal
    # lengths preserved): the AND split below then sees only the
    # remaining conjuncts, and a blank fragment is the harmless residue
    # of a consumed BETWEEN
    repl: list[tuple[int, int]] = []
    for m in re.finditer(
        rf"({_COL})\s+(?i:BETWEEN)\s+({_LIT})\s+(?i:AND)\s+({_LIT})", scrub
    ):
        col = m.group(1)
        lo = bound(col, _parse_lit(orig[m.start(2) : m.end(2)]))
        hi = bound(col, _parse_lit(orig[m.start(3) : m.end(3)]))
        if lo is None or hi is None:
            return None
        fold(col, lo, hi)
        repl.append((m.start(), m.end()))
    for a, b in repl:
        pad = " " * (b - a)
        orig = orig[:a] + pad + orig[b:]
        scrub = scrub[:a] + pad + scrub[b:]

    for conj_o, conj_s in _split_top(orig, scrub, "AND"):
        c, _cs = _unwrap2(conj_o, conj_s)
        if not c:
            continue  # residue of a blanked BETWEEN
        m = re.fullmatch(rf"({_COL})\s+(?i:IN)\s*\(({_LIT}(?:\s*,\s*{_LIT})*)\)", c)
        if m:
            col = m.group(1)
            vals = [_parse_lit(t) for t in re.findall(_LIT, m.group(2))]
            if (
                points is not None  # one IN per predicate keeps the sum disjoint
                or (col_types or {}).get(col) not in _INTEGRAL_TYPES
                or any(isinstance(v, str) for v in vals)
                or any(not float(v).is_integer() for v in vals)
            ):
                return None
            points = (col, sorted({int(v) for v in vals}))
            continue
        m = re.fullmatch(rf"({_COL})\s*(>=|>|<=|<|=|==)\s*({_LIT})", c)
        if not m:
            return None
        col, op, lit = m.group(1), m.group(2), _parse_lit(m.group(3))
        if (
            op in ("=", "==")
            and isinstance(lit, str)
            and (col_types or {}).get(col) == "string"
        ):
            if col in str_eq and str_eq[col] != lit:
                return None  # contradictory equalities: bail, don't guess
            str_eq[col] = lit
            continue
        b = bound(col, lit)
        if b is None:
            return None
        if op in (">", "<"):
            # exact only on integral columns: col < X == col <= X-1
            if (col_types or {}).get(col) not in _INTEGRAL_TYPES or not float(b).is_integer():
                return None
            fold(col, b + 1, _INF) if op == ">" else fold(col, -_INF, b - 1)
        elif op in ("=", "=="):
            fold(col, b, b)
        elif op == ">=":
            fold(col, b, _INF)
        else:
            fold(col, -_INF, b)
    if not box and not str_eq and points is None:
        return None
    return {c: (lo, hi) for c, (lo, hi) in box.items()}, str_eq, points


def _extract_exact_box(predicate: str, col_types: dict | None = None) -> dict | None:
    """Box-only strict extraction (the stable pinned surface): the box
    alone must equal the predicate, so string equalities or IN-lists
    disqualify here — ``lake_count`` uses the richer
    ``_extract_exact_clauses`` directly."""
    clauses = _extract_exact_clauses(predicate, col_types)
    if clauses is None:
        return None
    box, str_eq, points = clauses
    if str_eq or points is not None or not box:
        return None
    return box


def lake_count(
    spark: SparkSession,
    name: str,
    predicate: str | None = None,
    version: int | str | None = None,
    branch: str | None = None,
) -> int:
    """COUNT(*) over a registered lake table (its head, ``version`` or
    ``branch``) with metadata doing most of the work (the Iceberg
    metadata-count shape). A bare COUNT(*) is the record's
    ``file_rows`` sum minus masked rows — zero reads. When the
    predicate folds EXACTLY (``_extract_exact_clauses``), files the
    record's stats prove fully inside contribute their row counts
    minus masked rows unopened, provably disjoint files nothing, and
    only boundary files are read (``snapshots._read_files``: masks and
    column mapping apply) and filtered with the exact predicate string
    — in one read, also for an integral ``IN`` (the union of its
    disjoint point boxes, each within any range on the same column).
    Otherwise this is the pruned scan's count — same answer, no
    shortcut."""
    from .operators.layout import _dv_rows_by_file, _stats_count
    from .operators.snapshots import (
        _lake_file_stats,
        _phys_keyed,
        _read_files,
        _record_row_count,
    )

    ent = _lake_entry(spark, name)
    info = _lake_info(ent, version, branch=branch)
    if not predicate:
        n = _record_row_count(info)
        return n if n is not None else _scan(spark, ent, info, None).count()
    col_types = _lake_col_types(spark, ent)
    clauses = _extract_exact_clauses(predicate, col_types)
    if clauses is None:
        return _scan(spark, ent, info, predicate).count()
    # stats key physically; the boundary WHERE stays logical
    phys = info.get("phys") or {}
    box, str_eq = _phys_keyed(clauses[:2], phys)
    col_types = _phys_keyed(col_types, phys)
    points = clauses[2]
    boxes = [box]
    if points is not None:
        # an integral IN is the union of its disjoint point boxes; a
        # point outside the column's own bound matches nothing
        pc = phys.get(points[0], points[0])
        lo, hi = box.get(pc, (-_INF, _INF))
        boxes = [{**box, pc: (v, v)} for v in points[1] if lo <= v <= hi]
        if not boxes:
            return 0
    stats = _lake_file_stats(
        ent["path"], sorted({c for b in boxes for c in b} | set(str_eq)), info
    )
    return _stats_count(
        stats,
        boxes,
        predicate,
        col_types,
        str_eq,
        _dv_rows_by_file(info.get("dv_rows"), info["files"]),
        lambda names: _read_files(spark, ent["path"], names, info),
    )


def lake_min_max(
    spark: SparkSession,
    name: str,
    col: str,
    predicate: str | None = None,
    version: int | str | None = None,
) -> DataFrame:
    """Exact (MIN, MAX) of ``col`` over a registered lake table (its
    head or ``version``) with metadata choosing the read set (round
    11): when the predicate folds to an EXACT closed box, only
    box-boundary files, masked files and the argmin/argmax candidate
    files are opened (``layout._stats_minmax`` over the record's stats,
    keyed by physical column), through the record's reader; otherwise
    this is the pruned scan's aggregate. Returns a 1-row DataFrame
    (min_<col>, max_<col>) either way — same values, native type."""
    from pyspark.sql import functions as F

    from .operators.layout import _dv_rows_by_file, _stats_minmax
    from .operators.snapshots import _lake_file_stats, _phys_keyed, _read_files

    ent = _lake_entry(spark, name)
    info = _lake_info(ent, version)
    col_types = _lake_col_types(spark, ent)
    box = {} if not predicate else _extract_exact_box(predicate, col_types)
    if box is None:
        return _scan(spark, ent, info, predicate).agg(
            F.min(col).alias(f"min_{col}"), F.max(col).alias(f"max_{col}")
        )
    phys = info.get("phys") or {}
    box = _phys_keyed(box, phys)
    pcol = phys.get(col, col)
    return _stats_minmax(
        _lake_file_stats(ent["path"], sorted({*box, pcol}), info),
        col,
        box,
        predicate,
        _phys_keyed(col_types, phys),
        _dv_rows_by_file(info.get("dv_rows"), info["files"]),
        lambda names: _read_files(spark, ent["path"], names, info),
        stat_col=pcol,
    )


def lake_delete_where(
    spark: SparkSession,
    name: str,
    predicate: str,
    use_dv: bool = False,
    branch: str | None = None,
) -> dict:
    """SQL DELETE on a REGISTERED lake table — the catalog wires the
    table path and the schema's column types (temporal literal
    folding) with no caller opt-in; the operator classifies files from
    the commit record's per-file stats. ``use_dv`` masks instead of
    rewriting (deletion vectors); ``branch`` targets a WAP branch's
    head (round 13)."""
    ent = _lake_entry(spark, name)
    from .operators.snapshots import lake_delete

    return lake_delete(
        spark,
        ent["path"],
        predicate,
        col_types=_lake_col_types(spark, ent),
        use_dv=use_dv,
        branch=branch,
    )


def lake_explain_delete(
    spark: SparkSession,
    name: str,
    predicate: str,
    branch: str | None = None,
) -> dict:
    """EXPLAIN for the DML classifier (round 14 — VERDICT r13 ask #6):
    the exact keep / drop / rewrite decision ``lake_delete_where(name,
    predicate)`` would make — metadata-only, nothing is read or
    committed — so a staged cleanup on a WAP ``branch`` is auditable
    BEFORE it runs. Returns the three file lists plus counts; with
    ``use_dv=True`` the ``rewrite`` set is the set of files that would
    take a deletion-vector mask instead of rewriting (identical
    classification — DV only changes what happens to boundary files).
    Pinned to the classifier itself by test: the explanation can never
    drift from what the delete actually does."""
    ent = _lake_entry(spark, name)
    from .operators.snapshots import _classify_for_delete

    info = _lake_info(ent, branch=branch)
    files = info["files"]
    drop, keep, rewrite = _classify_for_delete(
        ent["path"], predicate, _lake_col_types(spark, ent), info
    )
    return {
        "table": name,
        "predicate": predicate,
        "branch": branch,
        "files_total": len(files),
        "files_drop": len(drop),
        "files_keep": len(keep),
        "files_rewrite": len(rewrite),
        "drop": sorted(drop),
        "keep": sorted(keep),
        "rewrite": sorted(rewrite),
    }


def lake_update_where(
    spark: SparkSession,
    name: str,
    assignments: dict[str, str],
    predicate: str,
    branch: str | None = None,
) -> dict:
    """SQL UPDATE on a registered lake table (see lake_delete_where)."""
    ent = _lake_entry(spark, name)
    from .operators.snapshots import lake_update

    return lake_update(
        spark,
        ent["path"],
        assignments,
        predicate,
        col_types=_lake_col_types(spark, ent),
        branch=branch,
    )


def lake_merge_into(
    spark: SparkSession,
    name: str,
    source: DataFrame,
    key: str,
    when_matched: str = "update",
    branch: str | None = None,
) -> dict:
    """MERGE INTO a registered lake table (see lake_delete_where)."""
    ent = _lake_entry(spark, name)
    from .operators.snapshots import lake_merge

    return lake_merge(spark, ent["path"], source, key, when_matched=when_matched, branch=branch)


def lake_approx_distinct(
    spark: SparkSession, name: str, col: str, predicate: str | None = None
) -> int:
    """APPROX_COUNT_DISTINCT(col) over a registered lake table's head
    with the NDV sketch manifest doing the interior work (round 11):
    when the predicate folds to an EXACT closed box, interior files
    (by the record's stats) contribute their persisted per-file HLL sketches
    UNOPENED, only boundary and masked files sketch their qualifying
    rows live (through the record's reader), and one union merges the
    lot — error identical to sketching the qualifying rows directly
    (HLL union adds none). Without a registered NDV manifest (or with
    an unfoldable predicate, or under column mapping — persisted
    sketches are keyed by the name at save time, which may now name a
    dead column) this is a live ``approx_count_distinct`` over the
    pruned scan — same error class, no metadata shortcut."""
    ent = _lake_entry(spark, name)
    from pyspark.sql import functions as F

    from .operators.layout import _dv_rows_by_file, _stats_ndv
    from .operators.snapshots import _lake_file_stats, _read_files

    info = _lake_info(ent)
    col_types = _lake_col_types(spark, ent)
    ndv_m = ent.get("ndv_manifest")
    clauses = ({}, {}, None) if not predicate else _extract_exact_clauses(predicate, col_types)
    if ndv_m is not None and not info.get("phys") and clauses is not None and clauses[2] is None:
        box, str_eq, _points = clauses
        return _stats_ndv(
            spark,
            _lake_file_stats(ent["path"], sorted({*box, *str_eq}), info),
            ndv_m,
            col,
            box,
            predicate,
            col_types,
            str_eq,
            _dv_rows_by_file(info.get("dv_rows"), info["files"]),
            lambda names: _read_files(spark, ent["path"], names, info),
        )
    # mirror the manifest path's string fold so both routes agree
    row = _scan(spark, ent, info, predicate).agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col(col).cast("string"), F.lit(12))
        ).alias("ndv")
    ).head()
    return int(row.ndv) if row is not None and row.ndv is not None else 0
