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
        # hidden/metadata entries (_SUCCESS, _temporary/, .crc) are not
        # data, exactly as spark.read.parquet skips them
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
        files = [e for e in entries if e.endswith(".parquet")]
        if not files:
            raise ValueError(
                f"table_row_count({name!r}): no .parquet files under {path}"
            )
        return sum(
            int(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows)
            for f in files
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
# unrecognized conjunct only costs skipping, never rows). This is the
# Python-side analogue of a Catalyst data-skipping rule: the table
# registration is the "catalog", the predicate walk is the planning
# hook.
#
# The predicate is parsed ONCE by Spark's own parser — the one
# ``df.filter(predicate)`` uses — and one walk over the returned tree
# derives every skip clause, so pruning and filtering can never
# disagree about what a predicate means (quoting, escapes and keywords
# inside literals are the parser's business). A top-level ``Or`` chain
# gives the branches (pruned with the UNION of per-branch keep sets),
# ``And`` gives the conjuncts. Recognized conjuncts (the fragments a
# row-group pruner handles): ``col BETWEEN a AND b``, ``col >= a``,
# ``col > a``, ``col <= b``, ``col < b``, ``col = v`` (numeric -> box
# point; string -> Bloom probe when a Bloom manifest is registered for
# the column), ``col IN (v1, ...)``, ``col IS [NOT] NULL`` and ``NOT
# col = v`` (what ``!=``/``<>`` parse to; partition values only).
# Date/timestamp literals (bare ISO strings or ``DATE '...'`` /
# ``TIMESTAMP '...'``) fold to the SAME epoch units the scan manifest
# stores (epoch days / epoch seconds, layout._stat_num) when the lake
# schema says the column is temporal. Every other node — an ``Or`` or
# other ``Not`` under ``And``, functions, casts, NULL literals,
# multi-part names — contributes no skip clause (the file must be
# read); a branch with no clause at all disables pruning.
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


# Spark comparison node class -> the operator it applies
_CMP = {
    "EqualTo": "=",
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
}
_NUMERIC_TYPES = frozenset({"byte", "short", "integer", "long", "float", "double"})


def _parse_tree(spark: SparkSession, predicate: str) -> tuple:
    """``predicate`` parsed by the parser ``df.filter(predicate)`` uses,
    as a (class, fields, children) tree. ``toJSON`` returns the
    pre-order node list; each node's ``num-children`` rebuilds the
    nesting. An unparseable predicate raises Spark's ParseException
    here, as the filter itself would."""
    import json

    parser = spark._jsparkSession.sessionState().sqlParser()
    nodes = iter(json.loads(parser.parseExpression(predicate).toJSON()))

    def build() -> tuple:
        n = next(nodes)
        return n["class"].rsplit(".", 1)[-1], n, [build() for _ in range(n["num-children"])]

    return build()


def _flatten(node: tuple, cls: str) -> list[tuple]:
    """The operands of a nested ``cls`` chain (``And`` / ``Or``)."""
    if node[0] != cls:
        return [node]
    return [x for kid in node[2] for x in _flatten(kid, cls)]


def _col(node: tuple) -> str | None:
    """The name of a one-part column reference; None for anything else
    (multi-part names such as ``s.f`` included)."""
    if node[0] != "UnresolvedAttribute":
        return None
    name = node[1]["nameParts"][1:-1]  # the Seq renders as "[a, b]"
    return None if ", " in name else name


def _lit(node: tuple):
    """A literal's value: int/float for numeric types, str for string,
    date and timestamp (temporal values keep their ISO text for
    ``_temporal_num``); None for NULL and every other type."""
    if node[0] != "Literal" or node[1]["value"] is None:
        return None
    v, t = node[1]["value"], node[1]["dataType"]
    if t in ("string", "date", "timestamp"):
        return v
    if t in _NUMERIC_TYPES or t.startswith("decimal"):
        try:
            return int(v)
        except ValueError:
            return float(v)
    return None


def _atom(node: tuple) -> tuple | None:
    """One conjunct as (op, col, value) — op is a comparison, ``!=``,
    ``IN``/``BETWEEN`` (value: the literal list) or ``null``/``notnull``
    — or None for a shape no pruning rule handles: an ``Or`` or other
    ``Not`` under ``And``, functions, casts, NULL literals, column-on-
    the-right comparisons, multi-part names."""
    cls, fields, kids = node
    if cls in ("IsNull", "IsNotNull"):
        col = _col(kids[0])
        return ("null" if cls == "IsNull" else "notnull", col, None) if col else None
    if cls == "Not" and kids[0][0] == "EqualTo":  # also what != and <> parse to
        a = _atom(kids[0])
        return ("!=", a[1], a[2]) if a else None
    if cls in _CMP:
        col, v = _col(kids[0]), _lit(kids[1])
        return (_CMP[cls], col, v) if col and v is not None else None
    between = (
        cls == "UnresolvedFunction"
        and fields["nameParts"].lower() == "[between]"
        and len(kids) == 3
    )
    if cls == "In" or between:
        col, vals = _col(kids[0]), [_lit(k) for k in kids[1:]]
        if col and None not in vals:
            return ("BETWEEN" if between else "IN", col, vals)
    return None


def _fold(box: dict, col: str, lo, hi) -> None:
    cur = box.setdefault(col, [-_INF, _INF])
    cur[0] = max(cur[0], lo)
    cur[1] = min(cur[1], hi)


def _skip_clauses(atoms: list, col_types: dict | None) -> tuple[dict, dict, dict, dict]:
    """(box, equals, nots, nullness) from one conjunctive branch. box:
    {col: (lo, hi)} with +-inf open ends (folded per column); equals:
    {col: scalar-or-list} for equality / IN (Bloom probes); nots: {col:
    [vals]} for ``<>``/``!=`` — prunable ONLY against directory-encoded
    partition values, where every row provably shares the value
    (round 11); nullness: {col: 'null'|'notnull'} for ``IS [NOT]
    NULL`` — prunable from the manifest's per-file null counts
    (``IS NULL`` skips null-free files, ``IS NOT NULL`` skips all-null
    files) and from partition values (directory-encoded => non-null).
    Unrecognized conjuncts (None atoms) contribute no skip clause
    (must-read on that aspect)."""
    ct = col_types or {}
    box: dict[str, list[float]] = {}
    equals: dict[str, object] = {}
    nots: dict[str, list] = {}
    nullness: dict[str, str] = {}

    def bound(col: str, v):
        # numeric literal -> itself; temporal string -> epoch units;
        # other strings -> None (no box contribution)
        return _temporal_num(col, v, col_types) if isinstance(v, str) else v

    for op, col, v in filter(None, atoms):
        if op in ("null", "notnull"):
            if nullness.get(col, op) != op:
                # col IS NULL AND col IS NOT NULL: contradictory — no
                # sound single verdict, contribute nothing (must-read)
                nullness.pop(col, None)
            else:
                nullness[col] = op
        elif op == "!=":
            nots.setdefault(col, []).append(v)
        elif op == "BETWEEN":
            lo, hi = bound(col, v[0]), bound(col, v[1])
            if lo is not None and hi is not None:
                _fold(box, col, lo, hi)
        elif op == "IN":
            equals[col] = v
            nums = [bound(col, x) for x in v]
            if None not in nums:
                _fold(box, col, min(nums), max(nums))
        elif op == "=":
            # equality skips BOTH ways: a box point for the min/max
            # manifest (numeric or temporal-folded) AND a Bloom probe
            # if one is registered for the column
            equals[col] = v
            b = bound(col, v)
            if b is not None:
                _fold(box, col, b, b)
        elif (b := bound(col, v)) is not None:
            # strict ops on integral columns tighten exactly by one
            # unit (col < '1997-05-01' excludes the May 1 file);
            # otherwise they widen to inclusive bounds — pruning is a
            # superset guarantee, so widening is always sound
            exact1 = ct.get(col) in _INTEGRAL_TYPES and float(b).is_integer()
            if op == ">":
                _fold(box, col, b + 1 if exact1 else b, _INF)
            elif op == ">=":
                _fold(box, col, b, _INF)
            elif op == "<":
                _fold(box, col, -_INF, b - 1 if exact1 else b)
            else:
                _fold(box, col, -_INF, b)
    return {c: (lo, hi) for c, (lo, hi) in box.items()}, equals, nots, nullness


def _exact_clauses(atoms: list, col_types: dict | None) -> tuple[dict, dict, tuple | None] | None:
    """(box, str_eq, points) semantically EQUAL to one conjunctive
    branch, or None (see ``_extract_exact_clauses``): any conjunct
    that is not captured exactly disqualifies the whole predicate."""
    ct = col_types or {}
    box: dict[str, list[float]] = {}
    str_eq: dict[str, str] = {}
    points: tuple | None = None

    def bound(col: str, v):
        # dates fold exactly (whole epoch days); timestamp folds can
        # round sub-second literals, other strings fold to nothing
        if not isinstance(v, str):
            return v
        return _temporal_num(col, v, col_types) if ct.get(col) == "date" else None

    for a in atoms:
        if a is None or a[0] in ("!=", "null", "notnull"):
            return None
        op, col, v = a
        if op == "IN":
            if (
                points is not None  # one IN per predicate keeps the sum disjoint
                or ct.get(col) not in _INTEGRAL_TYPES
                or any(isinstance(x, str) or not float(x).is_integer() for x in v)
            ):
                return None
            points = (col, sorted({int(x) for x in v}))
        elif op == "=" and isinstance(v, str) and ct.get(col) == "string":
            if str_eq.setdefault(col, v) != v:
                return None  # contradictory equalities: bail, don't guess
        elif op == "BETWEEN":
            lo, hi = bound(col, v[0]), bound(col, v[1])
            if lo is None or hi is None:
                return None
            _fold(box, col, lo, hi)
        else:
            b = bound(col, v)
            if b is None:
                return None
            if op in (">", "<"):
                # exact only on integral columns: col < X == col <= X-1
                if ct.get(col) not in _INTEGRAL_TYPES or not float(b).is_integer():
                    return None
                _fold(box, col, b + 1, _INF) if op == ">" else _fold(box, col, -_INF, b - 1)
            elif op == "=":
                _fold(box, col, b, b)
            elif op == ">=":
                _fold(box, col, b, _INF)
            else:
                _fold(box, col, -_INF, b)
    if not box and not str_eq and points is None:
        return None
    return {c: (lo, hi) for c, (lo, hi) in box.items()}, str_eq, points


def _predicate_clauses(
    spark: SparkSession, predicate: str, col_types: dict | None = None
) -> tuple[list[tuple[dict, dict, dict, dict]] | None, tuple[dict, dict, tuple | None] | None]:
    """Both clause forms from ONE parse: (skip branches, exact clauses)
    — what ``_extract_skip_branches`` and ``_extract_exact_clauses``
    return, for callers (the DML classifier) that need both."""
    ors = [
        [_atom(c) for c in _flatten(b, "And")]
        for b in _flatten(_parse_tree(spark, predicate), "Or")
    ]
    branches = [_skip_clauses(atoms, col_types) for atoms in ors]
    exact = _exact_clauses(ors[0], col_types) if len(ors) == 1 else None
    return (branches if all(any(b) for b in branches) else None), exact


def _extract_skip_branches(
    spark: SparkSession, predicate: str, col_types: dict | None = None
) -> list[tuple[dict, dict, dict, dict]] | None:
    """Per-OR-branch (box, equals, nots, nullness) skip clauses. A file may be
    skipped only when EVERY branch proves it irrelevant, so the caller
    prunes with the UNION of per-branch keep sets. Returns None when
    some branch has no usable clause (that branch must read
    everything, and union-with-everything is everything) — a top-level
    ``NOT`` other than ``!=`` is such a branch."""
    return _predicate_clauses(spark, predicate, col_types)[0]


def _extract_skip_clauses(
    spark: SparkSession, predicate: str, col_types: dict | None = None
) -> tuple[dict, dict]:
    """(box, equals) for a purely conjunctive predicate — ({}, {}) when
    the predicate disjoins or extracts nothing (use
    ``_extract_skip_branches`` for the OR-union form). Kept as the
    stable single-box surface the tests pin."""
    branches = _extract_skip_branches(spark, predicate, col_types)
    if branches is None or len(branches) != 1:
        return {}, {}
    return branches[0][0], branches[0][1]


def _extract_exact_clauses(
    spark: SparkSession, predicate: str, col_types: dict | None = None
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
    Any ``OR``, ``NOT``, ``IS [NOT] NULL`` or unrecognized conjunct
    gives None. Timestamp columns are excluded (their epoch-second
    fold can round sub-second literals); date columns fold exactly
    (whole epoch days)."""
    return _predicate_clauses(spark, predicate, col_types)[1]


def _extract_exact_box(
    spark: SparkSession, predicate: str, col_types: dict | None = None
) -> dict | None:
    """Box-only strict extraction (the stable pinned surface): the box
    alone must equal the predicate, so string equalities or IN-lists
    disqualify here — ``lake_count`` uses the richer
    ``_extract_exact_clauses`` directly."""
    clauses = _extract_exact_clauses(spark, predicate, col_types)
    if clauses is None:
        return None
    box, str_eq, points = clauses
    if str_eq or points is not None or not box:
        return None
    return box

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

    Source of truth: the head COMMIT RECORD's schema (zero file
    reads); a plain, never-committed dir reads its footer schema."""
    from .operators.snapshots import _record_schema, current_version, snapshot_info

    ver = current_version(ent["path"])
    if "col_types" not in ent or ent.get("col_types_ver") != ver:
        schema = (
            _lake_read_all(spark, ent["path"]).schema
            if ver is None
            else _record_schema(ent["path"], snapshot_info(ent["path"], ver))
        )
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


def _keep_files(
    spark: SparkSession, ent: dict, predicate: str, phys: dict, files: list[str] | None
) -> set[str] | None:
    """The files ``lake_scan`` must read for ``predicate``: the UNION
    of the per-OR-branch keep sets over ``files`` (every live file when
    None), or None when no branch yields a skip clause. Column mapping
    (round 14): manifests and footers key stats by the PHYSICAL column
    name, so the pruning structures are re-keyed through ``phys`` and a
    remapped column never consults a dead same-named column's stats
    (files without the physical column stay must-read)."""
    from .operators.layout import pruned_files
    from .operators.snapshots import _phys_keyed

    col_types = _lake_col_types(spark, ent)
    branches = _extract_skip_branches(spark, predicate, col_types)
    if not branches:
        return None
    branches, col_types = _phys_keyed((branches, col_types), phys)
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
                ent["path"],
                ent["scan_manifest"],
                box,
                bloom_filters=blooms,
                equals=equals,
                not_equals=nots,
                nullness=nullness,
                col_types=col_types,
                files=files,
            )
        )
    return keep


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
    from .operators.layout import _compact_recover_tree

    read_info: dict | None = None
    if branch is not None:
        if version is not None or as_of_ts is not None:
            raise ValueError("pass branch= or version=/as_of_ts=, not both")
        from .operators.snapshots import read_branch, snapshot_info

        read_info = snapshot_info(path, branch=branch)
        if not predicate:
            return read_branch(spark, path, branch)
        inventory = sorted(read_info["files"])
        missing = [n for n in inventory if not os.path.exists(os.path.join(path, n))]
        if missing:
            raise ValueError(
                f"branch {branch!r} references {len(missing)} missing file(s) "
                f"(e.g. {missing[0]!r})"
            )
        keep = _keep_files(spark, ent, predicate, _lake_phys(path, binfo=read_info), inventory)
        if keep is None:
            return read_branch(spark, path, branch).filter(predicate)
        if not keep:
            return read_branch(spark, path, branch).limit(0).filter(predicate)
        from .operators.snapshots import _read_files

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
    # column mapping (round 14): the version's own record, so time
    # travel prunes under the mapping in force at that version
    keep = _keep_files(spark, ent, predicate, _lake_phys(path, version), inventory)
    if keep is None:
        if inventory is not None:
            from .operators.snapshots import read_snapshot

            return read_snapshot(spark, path, version).filter(predicate)
        return _lake_read_all(spark, path).filter(predicate)
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
        _read_scan_manifest,
    )

    ent = _lake_entry(spark, name)
    path = ent["path"]
    if branch is not None:
        # explain the BRANCH scan's decision (round 13): the branch
        # head's file list is the inventory, same rules
        if version is not None:
            raise ValueError("pass branch= or version=, not both")
        from .operators.snapshots import snapshot_info

        live = sorted(snapshot_info(path, branch=branch)["files"])
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
    branches = _extract_skip_branches(spark, predicate, col_types)
    if not branches:
        out["reason"] = "no usable conjunct — full scan + exact filter"
        return out
    # column mapping (round 14): the explainer consults the same
    # physically-keyed stats as the planner — translate identically so
    # the kept-set pin can never drift on a mapped lake
    from .operators.snapshots import _phys_keyed, snapshot_info

    eph = _lake_phys(
        path,
        version,
        binfo=snapshot_info(path, branch=branch) if branch is not None else None,
    )
    if eph:
        branches = _phys_keyed(branches, eph)
        col_types = _phys_keyed(col_types, eph)
    out["branches"] = len(branches)
    live_set = set(live)
    mf = (
        _read_scan_manifest(spark, ent["scan_manifest"])
        if ent["scan_manifest"] is not None
        else None
    )

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
            if nullness:
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
        from .operators.snapshots import _read_files, read_branch, snapshot_info

        binfo = snapshot_info(ent["path"], branch=branch)
        if not predicate:
            rows = binfo.get("file_rows")
            dvr = binfo.get("dv_rows") or {}
            if rows is not None:
                try:
                    return sum(int(rows[n]) - int(dvr.get(n, 0)) for n in binfo["files"])
                except KeyError:
                    pass
            return read_branch(spark, ent["path"], branch).count()
        if ent["scan_manifest"] is not None:
            col_types = _lake_col_types(spark, ent)
            clauses = _extract_exact_clauses(spark, predicate, col_types)
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
            clauses = _extract_exact_clauses(spark, predicate, col_types)
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
        clauses = _extract_exact_clauses(spark, predicate, col_types)
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
            box = {} if not predicate else _extract_exact_box(spark, predicate, col_types)
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
        box = {} if not predicate else _extract_exact_box(spark, predicate, col_types)
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
    table path, the schema's column types (temporal literal folding),
    and the registered scan manifest (footer-free classification +
    in-call manifest maintenance) with no caller opt-in. ``use_dv``
    masks instead of rewriting (deletion vectors); ``branch`` targets
    a WAP branch's head (round 13)."""
    ent = _lake_entry(spark, name)
    from .operators.snapshots import lake_delete

    return lake_delete(
        spark,
        ent["path"],
        predicate,
        col_types=_lake_col_types(spark, ent),
        scan_manifest=ent["scan_manifest"],
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
    from .operators.snapshots import (
        _classify_for_delete,
        has_snapshots,
        snapshot_files,
        snapshot_info,
    )

    phys = None
    if branch is not None:
        binfo = snapshot_info(ent["path"], branch=branch)
        files = sorted(binfo["files"])
        phys = binfo.get("phys")
    elif has_snapshots(ent["path"]):
        files = snapshot_files(ent["path"])
        phys = snapshot_info(ent["path"]).get("phys")
    else:
        from .operators.layout import _data_files

        files = _data_files(ent["path"])
    drop, keep, rewrite = _classify_for_delete(
        ent["path"],
        predicate,
        _lake_col_types(spark, ent),
        spark,
        ent["scan_manifest"],
        files=files,
        phys=phys,
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
        scan_manifest=ent["scan_manifest"],
        branch=branch,
    )


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
        clauses = _extract_exact_clauses(spark, predicate, col_types)
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
