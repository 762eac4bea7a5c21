"""Deterministic distinct-count sketches as compositions of built-in
expressions.

``approx_count_distinct`` exists in both Spark and DuckDB, but each
engine's HLL uses its own hash and register layout, so the two never
agree — useless under this repo's value-hash correctness gate.  This
module implements HyperLogLog from its definition with an md5-derived
hash and STRING-domain bit inspection, so any engine with ``md5`` +
``regexp`` replays the sketch register-for-register (the q79 oracle
does), while the estimate math stays in exact-integer space until one
final division.

Why a sketch at all (100 TB): exact ``count(DISTINCT col)`` shuffles
every distinct value; the HLL register table is ``m`` rows per group
regardless of cardinality, with map-side partial ``max`` combine — the
classic trade, here with cross-engine reproducibility.

Determinism notes (the usual cross-engine float traps, designed out):

* register sum uses integer ``2^(55 - rho)`` terms (rho capped at 55,
  so terms are >= 1), summed in DECIMAL so the sum is exact.  It is
  bounded by ``m * 2^55``: 2^63 at ``p = 8``, the edge of int64, and
  past it at any larger ``p``, where a BIGINT sum wrapped in the
  small-cardinality regime (each absent register adds 2^55).  DuckDB
  sums BIGINT into int128, so only the Spark side needed the
  widening; the resulting doubles are identical wherever the BIGINT
  sum didn't overflow.  The one floating division happens on two
  exact integers, and IEEE 754 division is correctly rounded
  everywhere.
* the small-range (linear-counting) branch uses ``ln`` of a ratio of
  small exact integers — correctly rounded on both engines in
  practice; the final output is scale-rounded (``R``) anyway.
"""

from __future__ import annotations


from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _hll_alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_rho(whex: Column) -> Column:
    """Position of the first 1-bit (1-based) of a hex-string-encoded
    bit field, capped at 55 (keeps each scaled term ``2^(55 - rho)``
    an exact BIGINT) — computed entirely in the string domain
    (leading-zero hex digits * 4 + a 16-way CASE on the first non-zero
    digit), so the replay is engine-independent."""
    zeros_hex = F.length(F.regexp_extract(whex, "^(0*)", 1))
    first_nz = F.substring(F.regexp_replace(whex, "^0*", ""), 1, 1)
    extra = (
        F.when(first_nz == "1", 3)
        .when(first_nz.isin("2", "3"), 2)
        .when(first_nz.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    return F.least(zeros_hex * 4 + extra + 1, F.lit(55))


#: HLL precision: 2^8 = 256 registers, indexed by two hex digits
HLL_P = 8


def hll_register_table(
    df: DataFrame, col: str, group_by: Sequence[str] = ()
) -> DataFrame:
    """The HLL REGISTER TABLE of ``col`` per ``group_by`` group:
    register index = first ``HLL_P`` bits of ``md5(col)`` (hex prefix),
    rho = first-1-bit position of the next 56 bits, one row per
    (group, index) holding ``max(rho)`` — at most ``2^HLL_P`` rows per
    group regardless of input, map-side partial max combine.

    This is the sketch's MERGEABLE form — the property that makes it
    an incremental structure, not just a cheaper aggregate: register
    tables built per partition / per day / per stream are combined
    with :func:`hll_merge` (elementwise max is associative,
    commutative, idempotent) and the merged table estimates EXACTLY
    what a direct build over the union would — register-identical,
    not approximately.  Persist per-day tables once; any date-range
    distinct count is then a merge of tiny tables instead of a rescan.

    Returns ``group_by + [_hll_idx string, _hll_max int]``."""
    gcols = list(group_by)
    # count(DISTINCT col) ignores NULLs; without this filter md5(NULL)
    # yields a NULL register index whose rho degenerates to the 55 cap
    # (least() skips NULL operands), inflating the estimate with a
    # phantom max-rho register
    df = df.filter(F.col(col).isNotNull())
    h = F.md5(F.col(col).cast("string"))
    # the register KEY can stay a hex string — it only ever groups,
    # never leaves the plan, and a string key means the oracle replay
    # needs no engine-specific hex->int conversion at all
    idx = F.substring(h, 1, HLL_P // 4)
    whex = F.substring(h, HLL_P // 4 + 1, 14)
    return (
        df.select(*gcols, idx.alias("_hll_idx"), hll_rho(whex).alias("_hll_rho"))
        .groupBy(*gcols, "_hll_idx")
        .agg(F.max("_hll_rho").alias("_hll_max"))
    )


def hll_merge(
    regs: DataFrame,
    group_by: Sequence[str] = (),
) -> DataFrame:
    """Merge HLL register tables (the union of any number of
    :func:`hll_register_table` outputs): per
    (group, index) elementwise max.  The merged table is register-
    identical to a direct build over the concatenated inputs."""
    return regs.groupBy(*group_by, "_hll_idx").agg(
        F.max("_hll_max").alias("_hll_max")
    )


def hll_estimate_from_registers(
    regs: DataFrame, group_by: Sequence[str] = ()
) -> DataFrame:
    """The standard HLL estimator (with linear-counting small-range
    correction) over a register table, as ``hll_estimate`` — see
    :func:`hll_distinct` for the determinism discipline (integer-exact
    register sum, one final correctly-rounded division)."""
    m = 1 << HLL_P
    alpha = _hll_alpha(m)
    gcols = list(group_by)
    # integer-exact register sum: sum(2^-rho) scaled by 2^55; absent
    # registers (rho = 0) contribute 2^55 each.  The per-term shift
    # fits BIGINT (rho <= 55); the SUM is DECIMAL: it is bounded by
    # m * 2^55 = 2^63, the edge of int64, and zeros * 2^55 dominates
    # it in the small-cardinality regime where most registers are
    # absent.
    # python API shiftleft() only takes a literal bit count; the SQL
    # form accepts a column
    term = F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), 55 - _hll_max) AS DECIMAL(20, 0))"
    )
    per_group = regs.groupBy(*gcols).agg(
        F.sum(term).alias("_hll_isum"),
        F.count("*").alias("_hll_nonzero"),
    )
    zeros = F.lit(m) - F.col("_hll_nonzero")
    isum = F.col("_hll_isum") + zeros.cast("decimal(20, 0)") * F.lit(
        1 << 55
    ).cast("decimal(20, 0)")
    raw = F.lit(alpha * m * m) * F.lit(float(1 << 55)) / isum.cast("double")
    small = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    # the nonzero == 0 arm covers the ungrouped-empty-input row (global
    # agg over zero rows): count(DISTINCT) of nothing is 0, and the
    # sum-over-no-rows _hll_isum is NULL there
    est = (
        F.when(F.col("_hll_nonzero") == 0, F.lit(0.0))
        .when((raw <= F.lit(2.5 * m)) & (zeros > 0), small)
        .otherwise(raw)
    )
    return per_group.select(*gcols, est.alias("hll_estimate"))


def hll_distinct(
    df: DataFrame, col: str, group_by: Sequence[str] = ()
) -> DataFrame:
    """HyperLogLog distinct estimate of ``col`` per ``group_by`` group:
    :func:`hll_register_table` (one hash aggregation, ≤ ``2^HLL_P`` rows
    per group) composed with :func:`hll_estimate_from_registers` (the
    standard estimator with linear-counting small-range correction).

    Returns ``group_by + [hll_estimate]`` with the estimate as DOUBLE
    (round it at the query boundary; q79 uses the house ``R``)."""
    regs = hll_register_table(df, col, group_by=group_by)
    return hll_estimate_from_registers(regs, group_by=group_by)


#: the quantiles :func:`histogram_quantiles` estimates
QUANTILES = (0.5, 0.9, 0.99)


def histogram_quantiles(
    df: DataFrame, col: str, group_by: Sequence[str] = ()
) -> DataFrame:
    """Equi-width histogram quantile sketch of ``col`` per ``group_by``
    group — the QUANTILE member of this module's sketch family (HLL =
    cardinality, Bloom = membership/cardinality, count-min = frequency).
    ``approx_percentile`` exists in both engines but each uses its own
    internal sketch (Spark: KLL-ish GK; DuckDB: t-digest), so they never
    agree under a value-hash gate; this one is reproducible from its
    definition in any SQL engine.

    Construction: bin = ``floor(value)`` (unit-width bins),
    per-(group, bin) counts — the bounded "register table", one row per
    occupied bin per group regardless of input size, with map-side
    partial ``sum`` — then a cumulative sum over the tiny bin table
    and, for each quantile ``q`` of ``QUANTILES``, the nearest-rank
    pick ``t = ceil(q·N)`` located in the unique bin whose cumulative
    range contains ``t``, linearly interpolated inside the bin::

        estimate = bin + (t - cum_below) / bin_count

    Error is bounded by one bin width.

    Determinism notes (same discipline as :func:`hll_distinct`):
    counts and ranks stay integer; ``t = ceil(q·N)`` is a correctly-
    rounded double multiply of identical literals on both engines
    (the oracle must CAST the fraction to DOUBLE — DuckDB parses bare
    ``0.9`` as DECIMAL); the final interpolation divides two exact
    integers.  Scale-round (``R``) at the query boundary as usual.

    NULLs are ignored (``percentile_cont`` semantics); a group with no
    non-NULL values is absent from the output.  Returns ``group_by +
    ["quantile", "quantile_estimate"]`` — one row per group per quantile,
    ``quantile`` as DOUBLE.

    Scale (100 TB): two exchanges, BOTH over the bounded bin table
    (never the raw rows — the first groupBy map-side-combines to bins
    inside the scan stage); the quantile probe is an exploded literal
    array, no join.  The bin table is mergeable across partitions,
    files, and days — the same property that makes the other sketches
    in this module incremental."""
    bins = histogram_bin_table(df, col, group_by=group_by)
    return histogram_quantiles_from_bins(bins, group_by=group_by)


def histogram_bin_table(
    df: DataFrame, col: str, group_by: Sequence[str] = ()
) -> DataFrame:
    """The quantile sketch's MERGEABLE form (same move as
    :func:`hll_register_table`): per-(group, bin) counts, bin =
    ``floor(value)``.  Bin tables built per partition / day / stream
    merge by summing counts per bin and estimate exactly what a direct
    build over the union would.  Returns ``group_by + [_hq_bin long,
    _hq_cnt long]``."""
    gcols = list(group_by)
    return (
        df.filter(F.col(col).isNotNull())
        .select(*gcols, F.floor(F.col(col).cast("double")).alias("_hq_bin"))
        .groupBy(*gcols, "_hq_bin")
        .agg(F.count("*").alias("_hq_cnt"))
    )


def histogram_quantiles_from_bins(
    bins: DataFrame, group_by: Sequence[str] = ()
) -> DataFrame:
    """The estimator tail of :func:`histogram_quantiles`, over any
    :func:`histogram_bin_table`-shaped input (merged or direct — sum
    bin tables per ``(group, _hq_bin)`` before calling if combining
    several)."""
    gcols = list(group_by)
    w_cum = Window.partitionBy(*gcols).orderBy("_hq_bin")
    w_all = Window.partitionBy(*gcols)
    cum = bins.select(
        *gcols,
        "_hq_bin",
        "_hq_cnt",
        F.sum("_hq_cnt").over(w_cum).alias("_hq_cum"),
        F.sum("_hq_cnt").over(w_all).alias("_hq_n"),
    )
    probed = cum.select(
        *gcols,
        "_hq_bin",
        "_hq_cnt",
        "_hq_cum",
        F.explode(
            F.array(*[F.lit(q).cast("double") for q in QUANTILES])
        ).alias("quantile"),
        F.greatest(
            F.ceil(F.col("quantile") * F.col("_hq_n").cast("double")),
            F.lit(1).cast("long"),
        ).alias("_hq_t"),
    ).filter(
        (F.col("_hq_cum") >= F.col("_hq_t"))
        & (F.col("_hq_cum") - F.col("_hq_cnt") < F.col("_hq_t"))
    )
    est = F.col("_hq_bin").cast("double") + (
        F.col("_hq_t") - (F.col("_hq_cum") - F.col("_hq_cnt"))
    ).cast("double") / F.col("_hq_cnt").cast("double")
    return probed.select(*gcols, "quantile", est.alias("quantile_estimate"))


#: count-min rows, and hex digits per row position (w = 16^3 counters)
CM_ROWS, CM_HEX_DIGITS = 3, 3


def _cm_probe(col: Column) -> Column:
    """Array of ``CM_ROWS`` (row, position) structs for a count-min
    probe: row ``i`` hashes into a disjoint ``CM_HEX_DIGITS``-character
    substring of one ``md5`` — the position IS a hex string, so any
    engine replays it with ``substr(md5(x), ...)`` (same construction
    as :func:`bloom_cardinality`'s positions)."""
    h = F.md5(col.cast("string"))
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("_cm_row"),
                F.substring(h, 1 + i * CM_HEX_DIGITS, CM_HEX_DIGITS).alias(
                    "_cm_pos"
                ),
            )
            for i in range(CM_ROWS)
        ]
    )


def count_min_table(
    df: DataFrame, col: str, group_by: Sequence[str] = ()
) -> DataFrame:
    """Count-min sketch CELL TABLE of ``col`` occurrences per
    ``group_by`` group: ``CM_ROWS`` rows of ``w = 16^CM_HEX_DIGITS``
    counters,
    cell value = total occurrences of every value hashing there.  The
    frequency complement to the cardinality sketches above — the
    classic heavy-hitter / frequency-estimation structure (Cormode &
    Muthukrishnan 2005), one-sided error (estimate >= truth, over by
    at most ~N/w per row, min over rows).

    Returns ``group_by + [_cm_row, _cm_pos, _cm_count]`` — at most
    ``CM_ROWS * w`` rows per group reach the final combine regardless of
    input size, with map-side partial ``sum``: the same bounded-state
    trade as the HLL register table, for COUNTS instead of
    cardinality.  Entirely integer — no float anywhere — so the
    replay is bit-exact in any engine.  NULLs are ignored (a NULL is
    not a value with a frequency)."""
    gcols = list(group_by)
    return (
        df.filter(F.col(col).isNotNull())
        .select(*gcols, F.explode(_cm_probe(F.col(col))).alias("_cm"))
        .select(*gcols, "_cm._cm_row", "_cm._cm_pos")
        .groupBy(*gcols, "_cm_row", "_cm_pos")
        .agg(F.count("*").alias("_cm_count"))
    )


def count_min_lookup(
    cells: DataFrame,
    items: DataFrame,
    col: str,
    group_by: Sequence[str] = (),
) -> DataFrame:
    """Estimated frequency ``cm_estimate`` of each row of ``items`` (unique per
    ``group_by + [col]``) from a :func:`count_min_table`: probe the
    ``CM_ROWS`` cells a value hashes to, take the minimum count
    (absent cell = 0).

    Scale: the cell table is bounded (``CM_ROWS * 16^CM_HEX_DIGITS``
    rows per group) so it is explicitly broadcast — the probe join is
    map-side, ``items`` is never shuffled for the join; the closing min-agg
    shuffles only the candidate set."""
    gcols = list(group_by)
    item_cols = items.columns
    probes = items.select(
        *item_cols,
        F.explode(_cm_probe(F.col(col))).alias("_cm"),
    ).select(*item_cols, "_cm._cm_row", "_cm._cm_pos")
    # group keys join NULL-SAFE: count_min_table keeps a NULL group
    # (groupBy retains it), and a plain equi-join would never match it
    # — the NULL group's estimates would come back 0, violating the
    # one-sided (estimate >= truth) guarantee
    c = F.broadcast(cells)
    cond = (probes["_cm_row"] == c["_cm_row"]) & (
        probes["_cm_pos"] == c["_cm_pos"]
    )
    for g in gcols:
        cond = cond & probes[g].eqNullSafe(c[g])
    joined = probes.join(c, cond, "left").select(
        *[probes[x] for x in item_cols], c["_cm_count"]
    )
    return joined.groupBy(*[F.col(x) for x in item_cols]).agg(
        F.min(F.coalesce(F.col("_cm_count"), F.lit(0).cast("long"))).alias(
            "cm_estimate"
        )
    )


def hash_sample_sketch(df: DataFrame, col: str) -> DataFrame:
    """Distinct hash-sample sketch of ``col`` — the SET-OPERATIONS
    member of this module's family (HLL/Bloom = cardinality, count-min
    = frequency, histogram = quantiles; this one adds union AND
    intersection).  Keep the distinct ``md5`` digests whose first hex
    digit is ``'0'`` — a fixed-threshold bottom sketch (a theta sketch
    with theta pinned at ``1/16``, the pure-SQL form of KMV): every
    distinct value is retained with probability ``1/16`` decided by
    its own hash, so sketches of different datasets are COORDINATED
    samples of the same hash space and set algebra works directly on
    them:

    * union      = distinct union of the samples
    * intersect  = hashes present in both samples
    * |S| ≈ ``16 · |sample|``  (unbiased; relative stderr
      ≈ ``sqrt(16 / |S|)``)

    This is the scale path for overlap/contamination measurement: HLL
    merges give union only — intersection via inclusion-exclusion
    compounds three estimates' errors — while here the intersection is
    itself a direct coordinated sample (q91 measures train/holdout
    vocabulary-style overlap with it).

    Deterministic and engine-replayable by construction: the oracle is
    ``WHERE substr(md5(x), 1, 1) = '0'`` + ``DISTINCT`` —
    no private hash, no float.  NULLs are ignored like
    ``count(DISTINCT)``.

    Scale (100 TB): the prefix filter is evaluated map-side inside the
    scan stage, so only ``~n/16`` rows ever reach the
    distinct's exchange — the sketch never shuffles the full input,
    unlike exact ``count(DISTINCT)``.  The sample itself is the
    mergeable persistable form (like the HLL register table): distinct
    union of per-day samples == the sample of the union, exactly.

    Returns ``[_hs_hash string]`` (one row per retained distinct
    value)."""
    h = F.md5(F.col(col).cast("string"))
    return (
        df.filter(F.col(col).isNotNull())
        .select(h.alias("_hs_hash"))
        .filter(F.substring("_hs_hash", 1, 1) == F.lit("0"))
        .distinct()
    )


def hash_sample_overlap(a: DataFrame, b: DataFrame) -> DataFrame:
    """Set-overlap estimates from two coordinated
    :func:`hash_sample_sketch` outputs (same ``col`` domain): BIGINT
    estimates of |A|, |B|, |A∪B|, |A∩B| plus a Jaccard estimate (the
    one double: a single division of two exact sample counts; NULL when
    both samples are empty).

    The intersection estimate is the direct one — hashes retained by
    BOTH sketches, scaled — not inclusion-exclusion over three noisy
    cardinalities; because the samples are coordinated (one hash
    function, one threshold), ``16 · |sample_A ∩ sample_B|`` is itself
    an unbiased estimator of ``|A ∩ B|``.

    Scale: both inputs are already 16-fold samples of DISTINCT values,
    so the full-outer join here exchanges only sketch rows (a
    full-outer join cannot broadcast in Spark — but the shuffle is over
    the tiny samples, never the raw data)."""
    fa = a.select("_hs_hash", F.lit(1).alias("_hs_a"))
    fb = b.select("_hs_hash", F.lit(1).alias("_hs_b"))
    j = fa.join(fb, fa["_hs_hash"] == fb["_hs_hash"], "full").select(
        fa["_hs_a"], fb["_hs_b"]
    )
    n_a = F.count("_hs_a")
    n_b = F.count("_hs_b")
    n_i = F.count(F.when(F.col("_hs_a").isNotNull() & F.col("_hs_b").isNotNull(), 1))
    n_u = F.count("*")
    return j.agg(
        (n_a * 16).cast("long").alias("est_a"),
        (n_b * 16).cast("long").alias("est_b"),
        (n_u * 16).cast("long").alias("est_union"),
        (n_i * 16).cast("long").alias("est_intersection"),
        F.when(n_u > 0, n_i.cast("double") / n_u.cast("double")).alias(
            "jaccard_estimate"
        ),
    )


def bloom_cardinality(
    df: DataFrame, col: str, group_by: Sequence[str] = ()
) -> DataFrame:
    """Bloom-filter fill-rate distinct estimate ``bloom_estimate`` of ``col`` per
    ``group_by`` group — the sketch complement to :func:`hll_distinct`
    (a Bloom filter built for MEMBERSHIP yields a cardinality estimate
    for free from its fill rate: n ≈ -(m/k)·ln(1 - X/m) with X set
    bits out of m).

    Deterministic and engine-independent by construction: the filter's
    bit array is never materialized — each of the k = 2 hash positions
    is a disjoint 4-character substring of ``md5(col)`` (m = 16^4 =
    65536 bits, so a position IS a hex string and the
    whole sketch replays in any SQL engine with ``substr(md5(x),...)``
    — no integer conversion, no private hash).  The one aggregation
    counts DISTINCT set positions per group: at most ``m`` rows per
    group reach the final combine regardless of input size, the same
    register-table trade as HLL.  NULLs are ignored like
    ``count(DISTINCT)``; a grouped key whose values are ALL NULL is
    absent from the output (same as :func:`hll_distinct` — outer-join
    the result if every key must appear), while the UNGROUPED
    aggregate over no values estimates exactly 0.0; a SATURATED filter
    (every bit set) returns NULL — the estimator's honest "beyond
    range" answer.

    m=65536 with k=2 keeps the fill below ~85% out to ~60k distinct
    values."""
    m, k = 16**4, 2
    gcols = list(group_by)
    h = F.md5(F.col(col).cast("string"))
    positions = F.array(*[F.substring(h, 1 + i * 4, 4) for i in range(k)])
    filled = (
        df.filter(F.col(col).isNotNull())
        .select(*gcols, F.explode(positions).alias("_bf_pos"))
        .groupBy(*gcols)
        .agg(F.countDistinct("_bf_pos").alias("_bf_set"))
    )
    x = F.col("_bf_set").cast("double")
    est = (
        F.when(F.col("_bf_set") == 0, F.lit(0.0))
        .when(F.col("_bf_set") == m, F.lit(None).cast("double"))
        .otherwise(
            F.lit(-(float(m) / k)) * F.log(F.lit(1.0) - x / F.lit(float(m)))
        )
    )
    return filled.select(*gcols, est.alias("bloom_estimate"))
