"""Engine-wide expression helpers."""

from __future__ import annotations

import os as _os
import re as _re

from pyspark.sql import Column
from pyspark.sql import functions as F


def rnd(col: Column | str, n: int = 2) -> Column:
    """Engine-portable rounding: ``floor(x * 10^n + 0.5) / 10^n``.

    Spark's ``round`` re-parses the double through its shortest decimal
    string (BigDecimal HALF_UP) while DuckDB rounds the binary value, so
    inputs sitting exactly on a half grain (common for products of
    2-decimal money values) round differently between engines. This
    formulation uses only IEEE ops both engines execute identically, so a
    Spark query and its DuckDB oracle produce bit-identical doubles.
    Oracle SQL must spell out the same formula.
    """
    if isinstance(col, str):
        col = F.col(col)
    p = 10**n
    return F.floor(col * p + F.lit(0.5)) / F.lit(p)


# Logical nodes that preserve the scan's partitioning (narrow, 1:1 on
# partitions). Anything else (Join/Aggregate/Window/Repartition/Union/
# LogicalRDD from a checkpoint/...) falls back to the exact probe.
_NARROW_NODES = frozenset(
    {"Project", "Filter", "Relation", "SubqueryAlias", "View", "Generate", "LocalLimit"}
)


def _parse_byte_conf(s: str) -> int:
    """Parse Spark byte-size conf strings ("128MB", "4194304b", "1g")."""
    s = s.strip().lower()
    mult = 1
    for suffix, m in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("tb", 1 << 40),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40),
        ("b", 1),
    ):
        if s.endswith(suffix):
            mult = m
            s = s[: -len(suffix)]
            break
    return int(float(s) * mult)


def _narrow_scan_splits(df) -> int | None:
    """Partition count of a narrow-over-local-file-scan plan, computed
    driver-side in Python by replaying Spark's FilePartition packing
    formula over the scan's file sizes.

    The exact probe (``df.rdd.getNumPartitions()``) costs a full
    optimization + physical-planning pass of the (often wide, text-heavy)
    plan — measured 0.1-0.3 s per call at the driver, and the plan is then
    planned AGAIN when the real query runs. For the overwhelmingly common
    spread() input — a parquet scan plus narrow ops — the partition count
    is a pure function of (file sizes, session conf), so it can be
    computed without touching the JVM planner: analysis-only plan-shape
    check + ``inputFiles()`` + ``os.path.getsize``. Returns None whenever
    the plan has any non-narrow node, a non-local file, or an empty file
    list — the caller then falls back to the exact probe, so this is an
    optimization with a correctness-preserving escape hatch.
    """
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return None
    for line in plan.splitlines():
        m = _re.match(r"^[\s:+|-]*([A-Za-z][A-Za-z0-9]*)", line)
        if m and m.group(1) not in _NARROW_NODES:
            return None
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    sizes = []
    for f in files:
        if f.startswith("file:"):
            p = "/" + f[len("file:"):].lstrip("/")
        elif f.startswith("/"):
            p = f
        else:
            return None  # non-local filesystem: fall back to exact probe
        # Decline on partitioned layouts and non-splittable formats
        # (ADVICE r14): inputFiles() lists ALL files of a hive-
        # partitioned table BEFORE partition pruning, so the replay
        # would overestimate the split count after a partition filter;
        # and the packing formula assumes splittable files, which only
        # parquet guarantees here. Both fall back to the exact probe.
        if not p.endswith(".parquet") or "=" in p.rsplit("/", 2)[-2]:
            return None
        try:
            sizes.append(_os.path.getsize(p))
        except OSError:
            return None
    conf = df.sparkSession.conf
    sc = df.sparkSession.sparkContext
    try:
        max_pb = _parse_byte_conf(conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
        open_cost = _parse_byte_conf(conf.get("spark.sql.files.openCostInBytes", "4MB"))
        min_pn_s = conf.get(
            "spark.sql.files.minPartitionNum",
            conf.get("spark.sql.leafNodeDefaultParallelism", None),
        )
    except Exception:
        return None
    min_pn = int(min_pn_s) if min_pn_s else sc.defaultParallelism
    # FilePartition.maxSplitBytes + getFilePartitions, replayed exactly:
    total = sum(sizes) + len(sizes) * open_cost
    bytes_per_core = total / max(min_pn, 1)
    max_split = int(min(float(max_pb), max(float(open_cost), bytes_per_core)))
    max_split = max(max_split, 1)
    splits: list[int] = []
    for fsize in sizes:
        off = 0
        while off < fsize:
            splits.append(min(max_split, fsize - off))
            off += max_split
    splits.sort(reverse=True)
    n_parts, cur = 0, 0
    for s in splits:
        if cur + s > max_split and cur > 0:
            n_parts += 1
            cur = 0
        cur += s + open_cost
    if cur > 0:
        n_parts += 1
    return n_parts


def spread(df, min_partitions: int | None = None, force: bool = False):
    """Ensure CPU-heavy downstream per-row work sees enough partitions.

    A small table read from one parquet file arrives as a single split,
    which would serialize heavy derivations (MinHash signatures, SimHash
    votes, text featurization) on one core. At real scale the file splits
    already provide parallelism and this is a no-op — the repartition only
    fires when the input has fewer partitions than the session's
    parallelism, so it never adds a shuffle to a properly-split 100 TB
    scan.

    ``force=True`` always inserts the exchange — used where the exchange
    is ALSO a CollapseProject barrier protecting a materialized column
    from being inlined into a higher-order-function lambda (see
    dedup.shingles).

    The input-partition probe takes the cheap Python-side path
    (:func:`_narrow_scan_splits`) when the plan is narrow-over-scan — the
    exact ``df.rdd`` probe costs a redundant full planning pass per call
    (0.1-0.3 s each on wide text plans; ~15 calls across the headline
    bench). On narrow inputs the max() keeps the invariant that a forced
    barrier never SHRINKS a widely-split scan. On NON-narrow inputs the
    partition count is not probed (see the branch comment below): a
    plain spread is a no-op there, and a forced spread re-shards to
    max(cores, static shuffle width) — full machine parallelism, but a
    deliberately wider layout is not preserved; pass ``min_partitions``
    when that matters.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    cur = _narrow_scan_splits(df)
    if cur is None:
        # Non-narrow (post-shuffle / checkpointed) input. The old probe
        # (`df.rdd.getNumPartitions()`) re-planned the whole query AND —
        # under AQE — executed its upstream shuffle stages at plan time
        # (measured 1.2 s inside flag_contaminated's spread alone, plus
        # the duplicated stage work). Statically: a post-shuffle frame
        # keeps parallelism via AQE's parallelismFirst coalescing (floor
        # 1 MB), and every CPU-heavy HOF stage over possibly-small frames
        # uses force=True, which repartitions unconditionally. So a plain
        # spread is a no-op here, and a forced barrier re-shards to the
        # static shuffle width — never narrower than what the upstream
        # exchange was planned at, so it cannot shrink a wide frame at
        # scale.
        if not force:
            # Caller contract (ADVICE r13): a plain spread() is a no-op
            # on non-narrow input — AQE's parallelismFirst coalescing
            # keeps post-shuffle parallelism for ordinary frames, and
            # every CPU-heavy kernel over a possibly-TINY frame (the
            # synthesize_*/mapInPandas library paths) must pass
            # force=True, which always inserts the barrier.
            return df
        # force + non-narrow: re-shard to max(cores, static shuffle
        # width). NOT the exact probe — `df.rdd.getNumPartitions()`
        # here re-plans the query and under AQE EXECUTES its upstream
        # shuffle stages at plan time (the 1.2 s/call pathology r13
        # removed; flag_contaminated hits this branch). The documented
        # contract (ADVICE r14) is therefore: a forced barrier on a
        # non-narrow input re-shards to AT LEAST full machine
        # parallelism — a frame deliberately partitioned WIDER than
        # that (e.g. AQE skew splits) is narrowed to cores-wide, which
        # keeps every core busy for the CPU-heavy kernel the barrier
        # protects; callers needing to preserve an extra-wide layout
        # should pass min_partitions explicitly.
        width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        return df.repartition(max(target, width))
    if force or cur < target:
        return df.repartition(max(target, cur))
    return df


def once(col: Column | str) -> Column:
    """Evaluate-once barrier for an expensive derived column.

    Catalyst's filter pushdown inlines a filtered alias's defining
    expression into the pushed predicate (PushPredicateThroughNonJoin
    substitutes the alias), so `withColumn("q", <heavy HOF blend>)
    .filter("q >= t")` evaluates the heavy expression TWICE — once inside
    a Filter pushed below every exchange (serially, in the scan stage of
    a one-split source) and once in the surviving projection. The same
    mechanism the optimization guide describes for Python UDFs (§4.4,
    asNondeterministic) applies to built-in expression trees: tagging the
    column non-deterministic makes `fields.forall(_.deterministic)` fail,
    so the predicate stays ABOVE the projection and the expression is
    evaluated exactly once, where the plan put it.

    Implementation: ``element_at(shuffle(array(col)), 1)`` — a random
    permutation of a ONE-element array is the element itself, so the
    VALUE is bit-identical to ``col`` for every row (any type, null
    included) and the DuckDB oracle is untouched; ``shuffle`` only
    poisons the determinism flag. (``when(rand() > -1, col)`` does NOT
    work: Catalyst range-folds the always-true rand comparison away.)
    Apply to the expensive gate columns, not blanket — the taint also
    blocks pushdown of cheap sibling predicates through the same
    projection (pre-filter simple predicates BEFORE the tainted
    projection, as the call sites do).
    """
    if isinstance(col, str):
        col = F.col(col)
    return F.element_at(F.shuffle(F.array(col)), 1)


def epoch_micros(col: Column | str, ntz: bool = True) -> Column:
    """Microsecond-exact epoch seconds*1e6 for both timestamp flavors,
    session-TZ immune, matching DuckDB ``epoch_us`` over the same
    parquet values.

    * ``ntz=False`` (TIMESTAMP instant): ``unix_micros`` reads the
      internal UTC micros directly — no wall-clock conversion.
    * ``ntz=True`` (TIMESTAMP_NTZ, what the parquet fixtures surface):
      ``unix_micros`` rejects NTZ and any cast through TIMESTAMP applies
      the session zone, so the epoch is rebuilt from TZ-free wall-clock
      components (day diff + hour/minute/second + the 'SSSSSS'
      fractional field). Integer arithmetic only — bit-exact.

    Use this (never ``unix_timestamp``/``cast``) wherever a duration or
    weight needs sub-second resolution; interval subtraction remains the
    right tool for pure gap comparisons (ops/sessionize.py).
    """
    if isinstance(col, str):
        col = F.col(col)
    if not ntz:
        return F.unix_micros(col)
    return (
        F.datediff(col, F.lit("1970-01-01").cast("date")).cast("long") * 86400
        + F.hour(col) * 3600
        + F.minute(col) * 60
        + F.second(col)
    ) * 1000000 + F.date_format(col, "SSSSSS").cast("long")


def bounded_collect(df, max_rows: int, why: str) -> list:
    """Collect a DataFrame the engine has ADJUDICATED as driver-safe,
    mechanically enforcing the documented bound.

    The "bounded driver-side recursion" family (Holt-Winters, PACF,
    GMM EM, DTW, binseg, IPF/raking, PQ/IVF codebook fits, BPE merges,
    …) legitimately collects calendar-grain (≤ ~2,400 rows),
    value-grain (≤ ~550), or domain-bounded matrices. The discipline
    keeping those collects safe used to be prose + review only; this
    helper makes it mechanical: the length check turns a quietly
    unbounded collect into a loud error naming the violated bound.

    ``why`` states the bound's provenance (e.g. "daily grain ≤ 2400",
    "vocab cap max_types=2000") so the error message is the
    adjudication.

    Deliberately a plain ``collect()`` + length assert, NOT
    ``limit(max_rows + 1).collect()``: CollectLimit runs Spark's
    incremental job escalation (1 partition, then scaleUpFactor×…),
    which would turn pinned single-job aggregates into multi-job plans
    (tests/test_sampling.py pins the weighted-mix counts step to ONE
    job). The guard therefore fires after one driver materialization of
    the offending frame — loud and immediate, which is the contract;
    the bound itself is what keeps that materialization small.
    """
    rows = df.collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"bounded_collect: driver-side bound violated ({why}): "
            f"got > {max_rows} rows — refusing to collect a "
            f"fact-scale frame"
        )
    return rows


def assert_grid_headroom(
    n: float, max_abs_term: float, what: str, grid_bits: int = 24
) -> None:
    """Loudly enforce the 2^-grid_bits term-grid exactness precondition
    (ADVICE r11, the bounded_collect philosophy applied to arithmetic).

    The Platt/GMM/IPF family's cross-engine bit-exactness rests on:
    sums of exact multiples of 2^-24 are EXACT in IEEE double in ANY
    summation order while the running total stays under
    2^53 · 2^-24 = 2^29. The headroom was documented in SCALING.md but
    nothing mechanically enforced it — a larger corpus would silently
    turn exact-hash oracles flaky instead of failing loudly. This
    assert makes the precondition a runtime contract: ``n`` terms each
    bounded by ``max_abs_term`` keep every running sum under the safe
    ceiling (with a 2x margin for partial-aggregation double counting
    headroom across Spark's map-side combiners).
    """
    ceiling = float(2 ** (53 - grid_bits))
    if n * max_abs_term * 2.0 >= ceiling:
        raise ValueError(
            f"grid-exactness headroom violated ({what}): "
            f"n={n:.0f} terms x max|term|<={max_abs_term:.6g} exceeds "
            f"the 2^{53 - grid_bits} exact-sum ceiling — the 2^-"
            f"{grid_bits} term grid no longer guarantees order-free "
            f"sums at this scale; re-derive the grid before trusting "
            f"the exact-hash oracle"
        )


def release_persists() -> int:
    """Drop every cached relation and persisted RDD of the active session;
    returns the number of RDDs unpersisted.

    Spark records what a query left behind (the CacheManager for
    ``.cache()``/``.persist()`` frames, ``getPersistentRDDs`` for their
    blocks and for ``localCheckpoint`` frames), so the sweep reads those
    records instead of a list of its own. Call it only after every frame
    built before it has been materialized or dropped: a released cache is
    recomputed, but a lazy plan that still scans a released checkpoint
    fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
    """
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return 0
    sc._jvm.SparkSession.active().catalog().clearCache()
    rdds = sc._jsc.getPersistentRDDs()
    for rdd in list(rdds.values()):
        rdd.unpersist()
    return len(rdds)
