"""Catalog: named access to the engine's tables.

The driver testdata (TESTDATA.md) is a TPC-H-ish star schema plus
``events`` (stream), ``documents`` (text corpus) and ``embeddings``
(vector table), one parquet file per table under a scale-factor dir.

``load_tables`` returns plain DataFrames; ``register_views`` additionally
registers them as temp views so the SQL surface works. Reads use the
parquet footer schema (no inference cost); filters/projections push down
to the scan (Parquet row-group stats + column projection).

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


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


# ---------------------------------------------------------------------------
# Lake-table catalog with AUTOMATIC manifest-assisted planning (round 10).
#
# pruned_read / bloom_skippable_files (operators/layout.py) are opt-in:
# a user writing plain ``spark.read.parquet`` gets no file skipping from
# the manifests they built. Registering a lake table here closes that
# gap — ``lake_scan(spark, name, predicate)`` derives the box / Bloom
# probes FROM the predicate itself and routes the read through
# ``pruned_read`` with no caller opt-in, then applies the exact
# predicate on top (pruning stays a superset guarantee, so an
# unparseable conjunct only costs skipping, never rows). This is the
# Python-side analogue of a Catalyst data-skipping rule: the table
# registration is the "catalog", the predicate→box extraction is the
# planning hook.
#
# Supported conjunct shapes (the same fragments a row-group pruner
# handles): ``col BETWEEN a AND b``, ``col >= a``, ``col > a``,
# ``col <= b``, ``col < b``, ``col = v`` (numeric -> box point; quoted
# string -> Bloom probe when a Bloom manifest is registered for the
# column), ``col IN (v1, v2, ...)`` (strings -> Bloom IN-list).
# Date/timestamp literals (bare ISO strings or ``DATE '...'`` /
# ``TIMESTAMP '...'``) fold to the SAME epoch units the scan manifest
# stores (epoch days / epoch seconds, layout._stat_num) when the lake
# schema says the column is temporal. Top-level ``OR`` prunes with the
# UNION of per-branch skip decisions (round 11); ``NOT`` still bails to
# must-read-everything. Anything else contributes no skip clause.
# ---------------------------------------------------------------------------

_LAKE_TABLES: dict[tuple[str, str], dict] = {}

_INF = float("inf")

# Spark simpleString dtypes whose columns take only integer values —
# dates included because the manifest folds them to whole epoch days
_INTEGRAL_TYPES = frozenset({"tinyint", "smallint", "int", "bigint", "date"})


def register_lake_table(
    spark: SparkSession,
    name: str,
    path: str,
    scan_manifest: str | None = None,
    bloom_manifests: dict[str, str] | None = None,
    ndv_manifest: str | None = None,
) -> None:
    """Register a parquet lake directory plus its (optional) persisted
    manifests under ``name``. Scoped per application like the table
    cache — a restarted session re-registers. ``ndv_manifest`` (round
    11) carries per-file HLL sketches for ``lake_approx_distinct``."""
    _LAKE_TABLES[(spark.sparkContext.applicationId, name)] = {
        "path": path,
        "scan_manifest": scan_manifest,
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
    to the SAME epoch units the scan manifest stores (layout._stat_num:
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
    NULL`` — prunable from the manifest's per-file null counts
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
                # manifest (numeric or temporal-folded) AND a Bloom
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


def _extract_skip_clauses(predicate: str, col_types: dict | None = None) -> tuple[dict, dict]:
    """(box, equals) for a purely conjunctive predicate — ({}, {}) when
    the predicate disjoins or negates (use ``_extract_skip_branches``
    for the OR-union form). Kept as the stable single-box surface the
    tests and ``manifest_assisted_count`` callers pin."""
    branches = _extract_skip_branches(predicate, col_types)
    if branches is None or len(branches) != 1:
        return {}, {}
    return branches[0][0], branches[0][1]


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
    the added column without re-registration. Unversioned lakes cache
    once (their schema has no commit to change under).

    Source of truth, in order: the head COMMIT RECORD's persisted
    schema (round 12 — zero file reads), else the lake read's resolved
    schema (one footer for a plain dir; merge-schema snapshot read for
    a pre-round-12 log without the schema leg)."""
    from .operators.snapshots import current_version, snapshot_info

    ver = current_version(ent["path"])
    if "col_types" not in ent or ent.get("col_types_ver") != ver:
        schema = None
        if ver is not None:
            sj = snapshot_info(ent["path"], ver).get("schema")
            if sj:
                import json as _json

                from pyspark.sql.types import StructType

                schema = StructType.fromJson(_json.loads(sj))
        if schema is None:
            schema = _lake_read_all(spark, ent["path"]).schema
        ent["col_types"] = {f.name: f.dataType.simpleString() for f in schema.fields}
        ent["col_types_ver"] = ver
    return ent["col_types"]


def _lake_has_dvs(path: str, version: int | str | None = None) -> bool:
    """True when the snapshot record at ``version`` (head when None)
    carries deletion vectors. The manifest/metadata fast paths
    (interior row counts, per-file min/max, persisted NDV sketches)
    describe PHYSICAL file contents, so a live mask invalidates their
    unopened-file shortcuts — those paths degrade to the pruned scan
    (which applies the mask) rather than overcount (round 12)."""
    from .operators.snapshots import has_snapshots, snapshot_info

    if not has_snapshots(path):
        return False
    return bool(snapshot_info(path, version).get("dvs"))


def _mask_stat_kwargs(
    spark: SparkSession, path: str, version: int | str | None = None
) -> dict:
    """Mask plumbing for the manifest-assisted stats paths (round 14 —
    per-FILE mask awareness, VERDICT r13 ask #4): the version's
    dv_rows map plus a reader that applies its masks under the
    recorded schema. Files with a zero/absent dv_rows entry keep their
    exact footer stats / persisted sketches UNOPENED; only genuinely
    masked files pay a live read. Empty when the version carries no
    DVs (zero overhead on the common path)."""
    if not _lake_has_dvs(path, version):
        return {}
    from .operators.snapshots import _read_files, snapshot_info

    info = snapshot_info(path, version)
    return {
        "dv_rows": info.get("dv_rows") or {},
        "masked_reader": lambda names: _read_files(spark, path, names, info),
    }


def _lake_read_all(spark: SparkSession, path: str) -> DataFrame:
    """The whole-lake read: plain parquet for an unversioned directory,
    the CURRENT snapshot for a transaction-logged one (a dead file a
    delete/merge commit removed must never reach a reader, even though
    its bytes stay on disk for time travel until vacuum)."""
    from .operators.snapshots import has_snapshots, read_snapshot

    if has_snapshots(path):
        return read_snapshot(spark, path)
    return spark.read.parquet(path)


def lake_scan(
    spark: SparkSession,
    name: str,
    predicate: str | None = None,
    version: int | str | None = None,
    as_of_ts: float | None = None,
    branch: str | None = None,
) -> DataFrame:
    """Read a registered lake table, automatically skipping files the
    persisted manifests prove irrelevant to ``predicate`` — then apply
    the exact predicate. With no registered manifests (or no usable
    conjunct) this degrades to the plain whole-lake read + filter.
    Top-level OR predicates prune with the UNION of per-branch keep
    sets; a table registered with Bloom manifests but no scan manifest
    prunes on the Blooms alone (round 11 — previously an error).

    ``version`` (round 11): TIME TRAVEL — read the table AS OF a
    committed snapshot version instead of the current head. Round 12:
    historical reads prune through the SAME manifests as head reads —
    a manifest row (footer min/max, nulls, Bloom bitmap, partition
    value) is an immutable fact about a FILE, true at every version
    that references it, so the historical file list simply intersects
    the keep set; files the head-maintained manifest no longer knows
    stay must-read (superset guarantee, never rows lost).

    ``branch`` (round 13): read a WAP BRANCH's head through the same
    manifest-intersection pruning — the audit query of
    write-audit-publish is exactly the read that wants file skipping
    on a big lake. Fork-shared files prune from their manifest rows;
    branch-staged files the manifest hasn't seen stay must-read."""
    ent = _lake_entry(spark, name)
    path = ent["path"]
    from .operators.layout import _compact_recover_tree, pruned_files

    read_info: dict | None = None
    if branch is not None:
        if version is not None or as_of_ts is not None:
            raise ValueError("pass branch= or version=/as_of_ts=, not both")
        from .operators.snapshots import _ref_info, read_branch

        read_info = _ref_info(path, branch=branch)
        if not predicate:
            return read_branch(spark, path, branch)
        inventory = sorted(read_info["files"])
        missing = [n for n in inventory if not os.path.exists(os.path.join(path, n))]
        if missing:
            raise ValueError(
                f"branch {branch!r} references {len(missing)} missing file(s) "
                f"(e.g. {missing[0]!r})"
            )
        col_types = _lake_col_types(spark, ent)
        branches_ = _extract_skip_branches(predicate, col_types)
        if not branches_:
            return read_branch(spark, path, branch).filter(predicate)
        from .operators.snapshots import _phys_keyed, _read_files

        # column mapping (round 14): manifests/footers key stats by the
        # PHYSICAL column name — translate the pruning structures so a
        # remapped column never consults a dead same-named column's
        # stats (files without the physical column stay must-read)
        bphys = read_info.get("phys") or {}
        if bphys:
            branches_ = _phys_keyed(branches_, bphys)
            col_types = _phys_keyed(col_types, bphys)

        keep: set[str] = set()
        for box, equals, nots, nullness in branches_:
            blooms = [
                (ent["bloom_manifests"][c], v)
                for c, v in equals.items()
                if c in ent["bloom_manifests"]
            ]
            keep |= set(
                pruned_files(
                    spark, path, ent["scan_manifest"], box,
                    bloom_filters=blooms, equals=equals, not_equals=nots,
                    nullness=nullness, col_types=col_types, files=inventory,
                )
            )
        if not keep:
            return read_branch(spark, path, branch).limit(0).filter(predicate)
        return _read_files(spark, path, sorted(keep), read_info).filter(predicate)
    if as_of_ts is not None:
        # SELECT ... AS OF TIMESTAMP: resolve to the latest version
        # committed at or before the instant, then the version path
        if version is not None:
            raise ValueError("pass version= or as_of_ts=, not both")
        from .operators.snapshots import version_as_of

        version = version_as_of(path, as_of_ts)
    inventory: list[str] | None = None
    if version is not None:
        from .operators.snapshots import read_snapshot, snapshot_files

        if not predicate:
            return read_snapshot(spark, path, version)
        inventory = snapshot_files(path, version)
        missing = [n for n in inventory if not os.path.exists(os.path.join(path, n))]
        if missing:
            raise ValueError(
                f"snapshot references {len(missing)} vacuumed file(s) "
                f"(e.g. {missing[0]!r}) — expired versions cannot be read"
            )
    else:
        # heal a torn OPTIMIZE swap before planning ANY read through
        # the catalog — otherwise rewritten rows appear twice until the
        # next optimize_clustered call (ADVICE round 10)
        _compact_recover_tree(path)
        if not predicate:
            return _lake_read_all(spark, path)
    col_types = _lake_col_types(spark, ent)
    branches = _extract_skip_branches(predicate, col_types)
    if not branches:
        if inventory is not None:
            from .operators.snapshots import read_snapshot

            return read_snapshot(spark, path, version).filter(predicate)
        return _lake_read_all(spark, path).filter(predicate)
    from .operators.snapshots import _phys_keyed, has_snapshots as _has_snaps, snapshot_info as _snap_info

    # column mapping (round 14): prune by PHYSICAL stat keys (see the
    # branch path above) — the version's own record, so time travel
    # prunes under the mapping in force at that version
    mphys = _snap_info(path, version).get("phys") or {} if _has_snaps(path) else {}
    if mphys:
        branches = _phys_keyed(branches, mphys)
        col_types = _phys_keyed(col_types, mphys)
    keep: set[str] = set()
    for box, equals, nots, nullness in branches:
        blooms = [
            (ent["bloom_manifests"][c], v)
            for c, v in equals.items()
            if c in ent["bloom_manifests"]
        ]
        keep |= set(
            pruned_files(
                spark,
                path,
                ent["scan_manifest"],
                box,
                bloom_filters=blooms,
                equals=equals,
                not_equals=nots,
                nullness=nullness,
                col_types=col_types,
                files=inventory,
            )
        )
    if not keep:
        # provably-empty predicate: empty frame with the table's schema
        if inventory is not None:
            from .operators.snapshots import read_snapshot

            return read_snapshot(spark, path, version).limit(0).filter(predicate)
        return spark.read.parquet(path).limit(0).filter(predicate)
    from .operators.snapshots import _read_files, has_snapshots, snapshot_info

    if has_snapshots(path):
        # authoritative-schema read (round 12): pruned subsets resolve
        # adds/drops/renames/widens exactly as read_snapshot does —
        # head reads under the head record, time travel under its own
        return _read_files(
            spark, path, sorted(keep), snapshot_info(path, version)
        ).filter(predicate)
    files = [os.path.join(path, n) for n in sorted(keep)]
    return spark.read.option("basePath", path).parquet(*files).filter(predicate)


def lake_explain(
    spark: SparkSession,
    name: str,
    predicate: str | None = None,
    version: int | str | None = None,
    branch: str | None = None,
) -> dict:
    """EXPLAIN for the catalog hook's file-skipping decision: which
    live files a ``lake_scan(name, predicate)`` would read, which it
    would skip, and WHY — per skipped file the set of rules that fired
    (``partition`` directory value, ``stats`` manifest min/max or
    all-null row, ``nulls`` null-count rule, ``bloom`` bitmap miss).
    A file is skipped only when EVERY OR-branch proves it irrelevant;
    the reasons union across branches. Metadata-only (no data read).
    ``version`` (round 12): explain the TIME-TRAVEL scan's decision —
    the version's file list is the inventory, same rules.

    The kept set here must equal what ``lake_scan`` actually reads —
    pinned by test so the explainer can never drift from the planner.

    Round 12: the manifest rules run as DataFrame filters — the SAME
    ``miss`` predicate shape ``pruned_files`` plans with — and only
    per-rule skipped-file name lists are collected (bounded by the
    skip decision itself), so EXPLAIN stays metadata-scale on a
    million-file manifest instead of collecting every stat row."""
    from pyspark.sql import functions as F

    from .operators.layout import (
        _bloom_skippable,
        _compact_recover_tree,
        _data_files,
        _partition_skippable,
        _partition_values,
    )

    ent = _lake_entry(spark, name)
    path = ent["path"]
    if branch is not None:
        # explain the BRANCH scan's decision (round 13): the branch
        # head's file list is the inventory, same rules
        if version is not None:
            raise ValueError("pass branch= or version=, not both")
        from .operators.snapshots import _ref_info

        live = sorted(_ref_info(path, branch=branch)["files"])
    elif version is not None:
        from .operators.snapshots import snapshot_files

        live = snapshot_files(path, version)
    else:
        _compact_recover_tree(path)
        live = _data_files(path)
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
    col_types = _lake_col_types(spark, ent)
    branches = _extract_skip_branches(predicate, col_types)
    if not branches:
        out["reason"] = "no usable conjunct — full scan + exact filter"
        return out
    # column mapping (round 14): the explainer consults the same
    # physically-keyed stats as the planner — translate identically so
    # the kept-set pin can never drift on a mapped lake
    from .operators.snapshots import _phys_keyed, _ref_info

    eph = _lake_phys(
        path,
        version,
        binfo=_ref_info(path, branch=branch) if branch is not None else None,
    )
    if eph:
        branches = _phys_keyed(branches, eph)
        col_types = _phys_keyed(col_types, eph)
    out["branches"] = len(branches)
    live_set = set(live)
    mf = (
        spark.read.option("mergeSchema", "true").parquet(ent["scan_manifest"])
        if ent["scan_manifest"] is not None
        else None
    )
    has_nulls = mf is not None and "nulls" in mf.columns

    def _rule_files(miss) -> set[str]:
        # the skip decision distributes; only skipped NAMES collect
        return {r.file for r in mf.filter(miss).select("file").distinct().collect()}

    # bloom skip sets, computed once per (col, value) across branches
    bloom_cache: dict[tuple, set] = {}
    reasons: dict[str, set] = {}
    skipped_all: set[str] | None = None
    for box, equals, nots, nullness in branches:
        by_rule: dict[str, set[str]] = {}
        by_rule["partition"] = {
            n
            for n in live
            if _partition_skippable(
                _partition_values(n), box, equals, col_types, nots, nullness
            )
        }
        if mf is not None:
            stats_miss = F.lit(False)
            for c, (lo, hi) in box.items():
                try:
                    lo_f, hi_f = float(lo), float(hi)
                except (TypeError, ValueError):
                    continue  # string bound: manifest proves nothing
                stats_miss = stats_miss | (
                    (F.col("col") == c)
                    & (
                        F.col("lo").isNull()
                        | (F.col("hi") < F.lit(lo_f))
                        | (F.col("lo") > F.lit(hi_f))
                    )
                )
            by_rule["stats"] = _rule_files(stats_miss) & live_set
            if nullness and has_nulls:
                nulls_miss = F.lit(False)
                for c, kind in nullness.items():
                    if kind == "null":
                        nulls_miss = nulls_miss | (
                            (F.col("col") == c) & (F.col("nulls") == 0)
                        )
                    else:
                        nulls_miss = nulls_miss | (
                            (F.col("col") == c) & (F.col("nulls") == F.col("rows"))
                        )
                by_rule["nulls"] = _rule_files(nulls_miss) & live_set
        bloom_skip: set[str] = set()
        for c, v in equals.items():
            if c in ent["bloom_manifests"]:
                key = (c, repr(v))
                if key not in bloom_cache:
                    bloom_cache[key] = _bloom_skippable(
                        spark, ent["bloom_manifests"][c], v
                    )
                bloom_skip |= bloom_cache[key] & live_set
        if bloom_skip:
            by_rule["bloom"] = bloom_skip
        branch_skipped: set[str] = set()
        for rule, names in by_rule.items():
            branch_skipped |= names
            for n in names:
                reasons.setdefault(n, set()).add(rule)
        skipped_all = branch_skipped if skipped_all is None else (skipped_all & branch_skipped)
    skipped = skipped_all or set()
    out["files_kept"] = len(live) - len(skipped)
    out["files_skipped"] = len(skipped)
    out["skip_frac"] = round(len(skipped) / len(live), 4) if live else 0.0
    out["skipped"] = {n: sorted(reasons[n]) for n in sorted(skipped)}
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
    """Inner equi-join a registered lake FACT table to a small ``dim``
    DataFrame with FILE-LEVEL dynamic pruning (round 11): the dim's
    distinct join keys are collected (bounded by ``max_keys``) and
    turned into a provable keep set before any fact data is read —
    partition-value equality, per-key interval probes against the scan
    manifest's footer ranges, and Bloom-manifest IN-list probes, the
    same three rules ``lake_scan`` uses for literal predicates, now
    driven by a JOIN's build side.

    Spark's own dynamic partition pruning handles hive-partitioned
    keys; this extends the idea to unpartitioned-but-CLUSTERED lakes,
    where a selective dim (a few customers, one brand) touches a few
    files of a range-laid-out fact table instead of all of them. On a
    key-clustered 100 TB fact table the read set becomes the dim's key
    range, not the table.

    Degradation: a dim wider than ``max_keys`` distinct keys falls
    back to the whole-lake read + join (the keep set would approach
    everything anyway). The join itself broadcasts the dim by default
    (``broadcast_dim=False`` for a large dim after fallback)."""
    from pyspark.sql import functions as F

    from .operators.layout import _compact_recover_tree, join_pruned_files

    ent = _lake_entry(spark, name)
    path = ent["path"]
    _compact_recover_tree(path)
    dcol = dim_col or fact_col
    if dcol not in dim.columns:
        raise ValueError(f"dim has no column {dcol!r}")
    keys_df = dim.select(F.col(dcol).alias("__jk")).distinct()
    probe = [r["__jk"] for r in keys_df.limit(max_keys + 1).collect()]
    right = F.broadcast(dim) if broadcast_dim else dim
    cond_name = fact_col if dim_col is None else None
    if len(probe) > max_keys:
        base = _lake_read_all(spark, path)
    else:
        col_types = _lake_col_types(spark, ent)
        files = join_pruned_files(
            spark,
            path,
            ent["scan_manifest"],
            fact_col,
            probe,
            bloom_manifest_path=ent["bloom_manifests"].get(fact_col),
            col_types=col_types,
        )
        if not files:
            base = _lake_read_all(spark, path).limit(0)
        else:
            base = spark.read.option("basePath", path).parquet(
                *[os.path.join(path, n) for n in sorted(files)]
            )
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


def _lake_phys(path: str, version=None, binfo: dict | None = None) -> dict:
    """The column-mapping ``phys`` dict (logical -> physical parquet
    name) in force at a version / branch head (round 14). Stats in
    manifests and footers key by the PHYSICAL name; every metadata
    fast path must consult them through this map or it would read a
    dead same-named column's stats. Empty = identity (no mapping)."""
    if binfo is not None:
        return binfo.get("phys") or {}
    from .operators.snapshots import has_snapshots, snapshot_info

    if not has_snapshots(path):
        return {}
    return snapshot_info(path, version).get("phys") or {}


def lake_count(
    spark: SparkSession,
    name: str,
    predicate: str | None = None,
    version: int | str | None = None,
    branch: str | None = None,
) -> int:
    """COUNT(*) over a registered lake table with metadata doing most
    of the work (round 11 — the Iceberg metadata-count shape behind the
    catalog hook). When the predicate folds to an EXACT closed box
    (``_extract_exact_box``) and a scan manifest is registered, the
    count routes through ``manifest_assisted_count``: interior files
    contribute manifest row counts unopened, only boundary/unknown
    files are read (filtered with the exact predicate string).
    Otherwise this degrades to ``lake_scan(...).count()`` — same
    answer, no metadata shortcut.

    Round 13 (mask-aware): live deletion vectors no longer force the
    whole count to a scan — interior files contribute
    ``file_rows − dv_rows[file]`` unopened and boundary files read
    through the mask-applying snapshot reader (see
    ``manifest_assisted_count``)."""
    ent = _lake_entry(spark, name)
    from .operators.layout import _compact_recover_tree, manifest_assisted_count

    def _dv_kwargs(ver) -> dict:
        """Mask plumbing for manifest_assisted_count at ``ver`` (head
        when None): the version's dv_rows map + a boundary reader that
        applies its masks. Empty when the version carries no DVs."""
        has_map = bool(_lake_phys(ent["path"], ver))
        if not _lake_has_dvs(ent["path"], ver) and not has_map:
            return {}
        from .operators.snapshots import _read_files, snapshot_info

        info = snapshot_info(ent["path"], ver)
        # a column-mapped lake's boundary files must read through the
        # authoritative reader (raw parquet has PHYSICAL names; the
        # WHERE is logical) even when no DV masks are live
        return {
            "dv_rows": info.get("dv_rows") or {},
            "boundary_reader": lambda names: _read_files(
                spark, ent["path"], names, info
            ),
        }

    if branch is not None:
        # COUNT on a WAP branch (round 13): bare counts are the branch
        # record's own metadata sum (mask-subtracting); a foldable
        # predicate routes through the same manifest-assisted path
        # with the branch inventory — staged/rewritten files unknown
        # to the manifest are boundary, read through the branch's
        # mask-applying reader
        if version is not None:
            raise ValueError("pass branch= or version=, not both")
        from .operators.snapshots import (
            _read_files,
            _record_row_count,
            _ref_info,
            read_branch,
        )

        binfo = _ref_info(ent["path"], branch=branch)
        if not predicate:
            n = _record_row_count(binfo)
            return n if n is not None else read_branch(spark, ent["path"], branch).count()
        if ent["scan_manifest"] is not None:
            col_types = _lake_col_types(spark, ent)
            clauses = _extract_exact_clauses(predicate, col_types)
            if clauses is not None and clauses[2] is None:
                from .operators.snapshots import _phys_keyed

                ph = _lake_phys(ent["path"], binfo=binfo)
                box, str_eq, _points = _phys_keyed(clauses, ph)
                return manifest_assisted_count(
                    spark,
                    ent["path"],
                    ent["scan_manifest"],
                    box,
                    where=predicate,
                    col_types=_phys_keyed(col_types, ph),
                    equals_strs=str_eq,
                    files=sorted(binfo["files"]),
                    dv_rows=binfo.get("dv_rows") or {},
                    boundary_reader=lambda names: _read_files(
                        spark, ent["path"], names, binfo
                    ),
                )
        return lake_scan(spark, name, predicate, branch=branch).count()

    if version is not None:
        # time travel: the commit's own per-file row counts answer a
        # bare COUNT(*) with zero reads; a foldable predicate routes
        # through the SAME manifest-assisted path as head counts
        # (round 12) with the version's file list as the inventory —
        # manifest stats are immutable per-file facts
        from .operators.snapshots import (
            read_snapshot,
            snapshot_files,
            snapshot_row_count,
        )

        if not predicate:
            n = snapshot_row_count(ent["path"], version)
            if n is not None:
                return n
        elif ent["scan_manifest"] is not None:
            col_types = _lake_col_types(spark, ent)
            clauses = _extract_exact_clauses(predicate, col_types)
            if clauses is not None and clauses[2] is None:
                from .operators.snapshots import _phys_keyed

                ph = _lake_phys(ent["path"], version)
                box, str_eq, _points = _phys_keyed(clauses, ph)
                return manifest_assisted_count(
                    spark,
                    ent["path"],
                    ent["scan_manifest"],
                    box,
                    where=predicate,
                    col_types=_phys_keyed(col_types, ph),
                    equals_strs=str_eq,
                    files=snapshot_files(ent["path"], version),
                    **_dv_kwargs(version),
                )
        df = read_snapshot(spark, ent["path"], version)
        return (df.filter(predicate) if predicate else df).count()
    _compact_recover_tree(ent["path"])
    if not predicate:
        from .operators.snapshots import has_snapshots, snapshot_row_count

        if has_snapshots(ent["path"]):
            # the commit carries per-file row counts: COUNT(*) is a
            # metadata sum, zero data reads (round 11)
            n = snapshot_row_count(ent["path"])
            if n is not None:
                return n
        return _lake_read_all(spark, ent["path"]).count()
    if ent["scan_manifest"] is not None:
        col_types = _lake_col_types(spark, ent)
        clauses = _extract_exact_clauses(predicate, col_types)
        if clauses is not None:
            from .operators.snapshots import _phys_keyed

            ph = _lake_phys(ent["path"])
            dvkw = _dv_kwargs(None)
            box, str_eq, points = _phys_keyed(clauses[:2], ph) + (clauses[2],)
            if points is None:
                return manifest_assisted_count(
                    spark,
                    ent["path"],
                    ent["scan_manifest"],
                    box,
                    where=predicate,
                    col_types=_phys_keyed(col_types, ph),
                    equals_strs=str_eq,
                    **dvkw,
                )
            # IN over distinct integral points: a sum of disjoint
            # point-box counts, each boundary-filtered with the ORIGINAL
            # predicate narrowed to its point
            col, vals = points
            # stats key physically; the boundary WHERE stays logical
            return sum(
                manifest_assisted_count(
                    spark,
                    ent["path"],
                    ent["scan_manifest"],
                    {**box, ph.get(col, col): (v, v)},
                    where=f"({predicate}) AND {col} = {v}",
                    col_types=_phys_keyed(col_types, ph),
                    equals_strs=str_eq,
                    **dvkw,
                )
                for v in vals
            )
    return lake_scan(spark, name, predicate).count()


def lake_min_max(
    spark: SparkSession,
    name: str,
    col: str,
    predicate: str | None = None,
    version: int | str | None = None,
) -> DataFrame:
    """Exact (MIN, MAX) of ``col`` over a registered lake table with
    metadata choosing the read set (round 11): when the predicate folds
    to an EXACT closed box and a scan manifest is registered, only
    box-boundary files plus the argmin/argmax candidate files are
    opened (``manifest_assisted_minmax``); otherwise this degrades to
    the pruned scan's aggregate. Returns a 1-row DataFrame
    (min_<col>, max_<col>) either way — same values, native type."""
    ent = _lake_entry(spark, name)
    from pyspark.sql import functions as F

    from .operators.layout import _compact_recover_tree, manifest_assisted_minmax

    if version is not None:
        # time travel (round 12): the metadata path works at any
        # version — the version's file list is the inventory, manifest
        # stats are immutable per-file facts; unknown files read
        from .operators.snapshots import read_snapshot, snapshot_files

        if ent["scan_manifest"] is not None and not _lake_phys(ent["path"], version):
            col_types = _lake_col_types(spark, ent)
            box = {} if not predicate else _extract_exact_box(predicate, col_types)
            if box is not None:
                return manifest_assisted_minmax(
                    spark,
                    ent["path"],
                    ent["scan_manifest"],
                    col,
                    box=box,
                    where=predicate,
                    col_types=col_types,
                    files=snapshot_files(ent["path"], version),
                    **_mask_stat_kwargs(spark, ent["path"], version),
                )
        df = read_snapshot(spark, ent["path"], version)
        if predicate:
            df = df.filter(predicate)
        return df.agg(F.min(col).alias(f"min_{col}"), F.max(col).alias(f"max_{col}"))
    _compact_recover_tree(ent["path"])
    col_types = _lake_col_types(spark, ent)
    # column mapping (round 14): a mapped lake's raw candidate reads
    # and manifest stat keys don't line up with logical names —
    # degrade to the authoritative pruned read (correct, conservative;
    # mapped tables are the rare post-reuse case)
    if ent["scan_manifest"] is not None and not _lake_phys(ent["path"]):
        box = {} if not predicate else _extract_exact_box(predicate, col_types)
        if box is not None:
            return manifest_assisted_minmax(
                spark,
                ent["path"],
                ent["scan_manifest"],
                col,
                box=box,
                where=predicate,
                col_types=col_types,
                **_mask_stat_kwargs(spark, ent["path"]),
            )
    base = lake_scan(spark, name, predicate)
    return base.agg(F.min(col).alias(f"min_{col}"), F.max(col).alias(f"max_{col}"))


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
    the commit record's per-file stats. A registered scan manifest is
    kept current in the same call (``_maintain_scan_manifest``: rows of
    departed files dropped, written files statted) — on main only,
    since the manifest describes main's live set. ``use_dv`` masks
    instead of rewriting (deletion vectors); ``branch`` targets a WAP
    branch's head (round 13)."""
    ent = _lake_entry(spark, name)
    from .operators.snapshots import lake_delete

    rep = lake_delete(
        spark,
        ent["path"],
        predicate,
        col_types=_lake_col_types(spark, ent),
        use_dv=use_dv,
        branch=branch,
    )
    _maintain_scan_manifest(spark, ent, branch)
    return rep


def _maintain_scan_manifest(spark: SparkSession, ent: dict, branch: str | None) -> None:
    """After a DML commit on main, bring a registered table's scan
    manifest up to the new live set: GC rows whose files left it, then
    stat the files the op wrote — O(changed files). The columns come
    from the manifest itself (its distinct ``col`` set). A branch
    commit changes nothing main reads, so it is left alone."""
    mf_path = ent["scan_manifest"]
    if mf_path is None or branch is not None:
        return
    from .operators.layout import append_scan_manifest, compact_scan_manifest

    mf = spark.read.option("mergeSchema", "true").parquet(mf_path)
    cols = [r.col for r in mf.select("col").distinct().collect()]
    compact_scan_manifest(spark, ent["path"], mf_path)
    if cols:
        append_scan_manifest(spark, ent["path"], cols, mf_path)


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
    from .operators.snapshots import _classify_for_delete, _ref_info, has_snapshots

    if branch is not None:
        info = _ref_info(ent["path"], branch=branch)
    elif has_snapshots(ent["path"]):
        info = _ref_info(ent["path"])
    else:
        from .operators.layout import _data_files

        info = {"files": _data_files(ent["path"])}
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

    rep = lake_update(
        spark,
        ent["path"],
        assignments,
        predicate,
        col_types=_lake_col_types(spark, ent),
        branch=branch,
    )
    _maintain_scan_manifest(spark, ent, branch)
    return rep


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

    rep = lake_merge(spark, ent["path"], source, key, when_matched=when_matched, branch=branch)
    _maintain_scan_manifest(spark, ent, branch)
    return rep


def lake_approx_distinct(
    spark: SparkSession, name: str, col: str, predicate: str | None = None
) -> int:
    """APPROX_COUNT_DISTINCT(col) over a registered lake table with the
    NDV sketch manifest doing the interior work (round 11): when the
    predicate folds to an EXACT closed box, interior files contribute
    their persisted per-file HLL sketches UNOPENED, only boundary
    files sketch their qualifying rows live, and one union merges the
    lot — error identical to sketching the qualifying rows directly
    (HLL union adds none). Without a registered NDV manifest (or with
    an unfoldable predicate) this degrades to a live
    ``approx_count_distinct`` over the pruned scan — same error class,
    no metadata shortcut."""
    ent = _lake_entry(spark, name)
    from pyspark.sql import functions as F

    from .operators.layout import _compact_recover_tree, manifest_assisted_ndv

    _compact_recover_tree(ent["path"])
    col_types = _lake_col_types(spark, ent)
    ndv_m = ent.get("ndv_manifest")
    # column mapping (round 14): persisted sketches key by the name at
    # save time — under a remap they may describe a dead column;
    # degrade to the live sketch over the authoritative pruned read
    if ndv_m is not None and not _lake_phys(ent["path"]):
        dvkw = _mask_stat_kwargs(spark, ent["path"])
        if not predicate:
            return manifest_assisted_ndv(
                spark, ent["path"], ndv_m, ent["scan_manifest"], col, **dvkw
            )
        clauses = _extract_exact_clauses(predicate, col_types)
        if clauses is not None and clauses[2] is None:
            box, str_eq, _points = clauses
            return manifest_assisted_ndv(
                spark,
                ent["path"],
                ndv_m,
                ent["scan_manifest"],
                col,
                box=box,
                where=predicate,
                col_types=col_types,
                equals_strs=str_eq,
                **dvkw,
            )
    base = lake_scan(spark, name, predicate)
    # mirror the manifest path's string fold so both routes agree
    row = base.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col(col).cast("string"), F.lit(12))
        ).alias("ndv")
    ).head()
    return int(row.ndv) if row is not None and row.ndv is not None else 0


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
