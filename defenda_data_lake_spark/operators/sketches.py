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
  so terms are >= 1), summed in DECIMAL so the full-range sum is exact
  for every supported ``p`` — at p=12 the sum is bounded by
  ``m * 2^55 = 2^67``, past int64, and a BIGINT sum would silently
  wrap for cardinalities small enough to leave most registers absent
  (DuckDB sums BIGINT into int128, so only the Spark side needed the
  widening; the resulting doubles are identical wherever the BIGINT
  sum didn't overflow).  The one floating division happens on two
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


def _hll_check(p: int) -> None:
    if not 4 <= p <= 12 or p % 4 != 0:
        raise ValueError(f"p must be 4, 8, or 12 (hex-aligned); got {p}")


def hll_register_table(
    df: DataFrame,
    col: str,
    group_by: Sequence[str] = (),
    p: int = 8,
) -> DataFrame:
    """The HLL REGISTER TABLE of ``col`` per ``group_by`` group:
    register index = first ``p`` bits of ``md5(col)`` (hex prefix),
    rho = first-1-bit position of the next 56 bits, one row per
    (group, index) holding ``max(rho)`` — at most ``2^p`` rows per
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
    _hll_check(p)
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
    idx = F.substring(h, 1, p // 4)
    whex = F.substring(h, p // 4 + 1, 14)
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
    :func:`hll_register_table` outputs over the same ``p``): per
    (group, index) elementwise max.  The merged table is register-
    identical to a direct build over the concatenated inputs."""
    return regs.groupBy(*group_by, "_hll_idx").agg(
        F.max("_hll_max").alias("_hll_max")
    )


def hll_estimate_from_registers(
    regs: DataFrame, group_by: Sequence[str] = (), p: int = 8
) -> DataFrame:
    """The standard HLL estimator (with linear-counting small-range
    correction) over a register table, as ``hll_estimate`` — see
    :func:`hll_distinct` for the determinism discipline (integer-exact
    register sum, one final correctly-rounded division)."""
    _hll_check(p)
    m = 1 << p
    alpha = _hll_alpha(m)
    gcols = list(group_by)
    # integer-exact register sum: sum(2^-rho) scaled by 2^55; absent
    # registers (rho = 0) contribute 2^55 each.  The per-term shift
    # fits BIGINT (rho <= 55) but the SUM must be DECIMAL: it is
    # bounded by m * 2^55, which passes int64 at p=12 (m=4096 -> 2^67)
    # — a BIGINT sum wraps exactly in the small-cardinality regime
    # where most registers are absent and zeros * 2^55 dominates.
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
    df: DataFrame, col: str, group_by: Sequence[str] = (), p: int = 8
) -> DataFrame:
    """HyperLogLog distinct estimate of ``col`` per ``group_by`` group:
    :func:`hll_register_table` (one hash aggregation, ≤ ``2^p`` rows
    per group) composed with :func:`hll_estimate_from_registers` (the
    standard estimator with linear-counting small-range correction).

    Returns ``group_by + [hll_estimate]`` with the estimate as DOUBLE
    (round it at the query boundary; q79 uses the house ``R``)."""
    regs = hll_register_table(df, col, group_by=group_by, p=p)
    return hll_estimate_from_registers(regs, group_by=group_by, p=p)


def histogram_quantiles(
    df: DataFrame,
    col: str,
    group_by: Sequence[str] = (),
    width: float = 1.0,
    quantiles: Sequence[float] = (0.5, 0.9, 0.99),
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Equi-width histogram quantile sketch of ``col`` per ``group_by``
    group — the QUANTILE member of this module's sketch family (HLL =
    cardinality, Bloom = membership/cardinality, count-min = frequency).
    ``approx_percentile`` exists in both engines but each uses its own
    internal sketch (Spark: KLL-ish GK; DuckDB: t-digest), so they never
    agree under a value-hash gate; this one is reproducible from its
    definition in any SQL engine.

    Construction: bin = ``floor(value / width)`` (clamped to
    ``[lo, hi]`` first when given), per-(group, bin) counts — the
    bounded "register table", at most ``(hi-lo)/width + 2`` rows per
    group regardless of input size, with map-side partial ``sum`` —
    then a cumulative sum over the tiny bin table and, for each
    requested quantile ``q``, the nearest-rank pick ``t = ceil(q·N)``
    located in the unique bin whose cumulative range contains ``t``,
    linearly interpolated inside the bin::

        estimate = width · (bin + (t - cum_below) / bin_count)

    Error is bounded by one bin width (plus clamp distortion outside
    ``[lo, hi]`` — edge mass is CLAMPED into the boundary bins, the
    standard bounded-state trade; quantiles that land strictly inside
    the range are unaffected).

    Determinism notes (same discipline as :func:`hll_distinct`):
    counts and ranks stay integer; ``t = ceil(q·N)`` is a correctly-
    rounded double multiply of identical literals on both engines
    (the oracle must CAST the fraction to DOUBLE — DuckDB parses bare
    ``0.9`` as DECIMAL); the final interpolation divides two exact
    integers.  Scale-round (``R``) at the query boundary as usual.

    NULLs are ignored (``percentile_cont`` semantics); a group with no
    non-NULL values is absent from the output.  Returns ``group_by +
    ["quantile", "quantile_estimate"]`` — one row per group per requested quantile,
    ``quantile`` as DOUBLE.

    Scale (100 TB): two exchanges, BOTH over the bounded bin table
    (never the raw rows — the first groupBy map-side-combines to bins
    inside the scan stage); the quantile probe is an exploded literal
    array, no join.  The bin table is mergeable across partitions,
    files, and days — the same property that makes the other sketches
    in this module incremental."""
    bins = histogram_bin_table(
        df, col, group_by=group_by, width=width, lo=lo, hi=hi
    )
    return histogram_quantiles_from_bins(
        bins, group_by=group_by, width=width, quantiles=quantiles
    )


def _hq_check(width: float, lo: float | None, hi: float | None) -> None:
    if width <= 0:
        raise ValueError(f"width must be > 0; got {width}")
    if (lo is None) != (hi is None):
        raise ValueError("lo and hi must be given together")
    if lo is not None and hi is not None and lo >= hi:
        raise ValueError(f"need lo < hi; got [{lo}, {hi}]")


def histogram_bin_table(
    df: DataFrame,
    col: str,
    group_by: Sequence[str] = (),
    width: float = 1.0,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """The quantile sketch's MERGEABLE form (same move as
    :func:`hll_register_table`): per-(group, bin) counts, bin =
    ``floor(clamped value / width)``.  Bin tables built per partition /
    day / stream merge by summing counts per bin and estimate exactly
    what a direct build over the union would.  Returns ``group_by +
    [_hq_bin long, _hq_cnt long]``."""
    _hq_check(width, lo, hi)
    gcols = list(group_by)
    v = F.col(col).cast("double")
    if lo is not None:
        v = F.greatest(F.lit(float(lo)), F.least(F.lit(float(hi)), v))
    return (
        df.filter(F.col(col).isNotNull())
        .select(*gcols, F.floor(v / F.lit(float(width))).alias("_hq_bin"))
        .groupBy(*gcols, "_hq_bin")
        .agg(F.count("*").alias("_hq_cnt"))
    )


def histogram_quantiles_from_bins(
    bins: DataFrame,
    group_by: Sequence[str] = (),
    width: float = 1.0,
    quantiles: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """The estimator tail of :func:`histogram_quantiles`, over any
    :func:`histogram_bin_table`-shaped input (merged or direct — sum
    bin tables per ``(group, _hq_bin)`` before calling if combining
    several)."""
    _hq_check(width, None, None)
    qs = sorted(set(float(q) for q in quantiles))
    if not qs or qs[0] <= 0 or qs[-1] > 1:
        raise ValueError(f"quantiles must be in (0, 1]; got {quantiles}")
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
            F.array(*[F.lit(q).cast("double") for q in qs])
        ).alias("quantile"),
        F.greatest(
            F.ceil(F.col("quantile") * F.col("_hq_n").cast("double")),
            F.lit(1).cast("long"),
        ).alias("_hq_t"),
    ).filter(
        (F.col("_hq_cum") >= F.col("_hq_t"))
        & (F.col("_hq_cum") - F.col("_hq_cnt") < F.col("_hq_t"))
    )
    est = F.lit(float(width)) * (
        F.col("_hq_bin").cast("double")
        + (F.col("_hq_t") - (F.col("_hq_cum") - F.col("_hq_cnt"))).cast(
            "double"
        )
        / F.col("_hq_cnt").cast("double")
    )
    return probed.select(*gcols, "quantile", est.alias("quantile_estimate"))


def _cm_probe(col: Column, d: int, w_hex_digits: int) -> Column:
    """Array of ``d`` (row, position) structs for a count-min probe:
    row ``i`` hashes into a disjoint ``w_hex_digits``-character
    substring of one ``md5`` — the position IS a hex string, so any
    engine replays it with ``substr(md5(x), ...)`` (same construction
    as :func:`bloom_cardinality`'s positions)."""
    h = F.md5(col.cast("string"))
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("_cm_row"),
                F.substring(h, 1 + i * w_hex_digits, w_hex_digits).alias(
                    "_cm_pos"
                ),
            )
            for i in range(d)
        ]
    )


def _cm_check(d: int, w_hex_digits: int) -> None:
    if not 1 <= w_hex_digits <= 8:
        raise ValueError(f"w_hex_digits must be 1..8; got {w_hex_digits}")
    if d < 1 or d * w_hex_digits > 32:
        raise ValueError(
            f"need d >= 1 and d * w_hex_digits <= 32; got d={d}"
        )


def count_min_table(
    df: DataFrame,
    col: str,
    group_by: Sequence[str] = (),
    d: int = 3,
    w_hex_digits: int = 3,
) -> DataFrame:
    """Count-min sketch CELL TABLE of ``col`` occurrences per
    ``group_by`` group: ``d`` rows of ``w = 16^w_hex_digits`` counters,
    cell value = total occurrences of every value hashing there.  The
    frequency complement to the cardinality sketches above — the
    classic heavy-hitter / frequency-estimation structure (Cormode &
    Muthukrishnan 2005), one-sided error (estimate >= truth, over by
    at most ~N/w per row, min over rows).

    Returns ``group_by + [_cm_row, _cm_pos, _cm_count]`` — at most
    ``d * w`` rows per group reach the final combine regardless of
    input size, with map-side partial ``sum``: the same bounded-state
    trade as the HLL register table, for COUNTS instead of
    cardinality.  Entirely integer — no float anywhere — so the
    replay is bit-exact in any engine.  NULLs are ignored (a NULL is
    not a value with a frequency)."""
    _cm_check(d, w_hex_digits)
    gcols = list(group_by)
    return (
        df.filter(F.col(col).isNotNull())
        .select(
            *gcols,
            F.explode(_cm_probe(F.col(col), d, w_hex_digits)).alias("_cm"),
        )
        .select(*gcols, "_cm._cm_row", "_cm._cm_pos")
        .groupBy(*gcols, "_cm_row", "_cm_pos")
        .agg(F.count("*").alias("_cm_count"))
    )


def count_min_lookup(
    cells: DataFrame,
    items: DataFrame,
    col: str,
    group_by: Sequence[str] = (),
    d: int = 3,
    w_hex_digits: int = 3,
) -> DataFrame:
    """Estimated frequency ``cm_estimate`` of each row of ``items`` (unique per
    ``group_by + [col]``) from a :func:`count_min_table` built with the
    SAME ``(d, w_hex_digits)``: probe the ``d`` cells a value hashes
    to, take the minimum count (absent cell = 0).

    Scale: the cell table is bounded (``d * 16^w_hex_digits`` rows per
    group) so it is explicitly broadcast — the probe join is map-side,
    ``items`` is never shuffled for the join; the closing min-agg
    shuffles only the candidate set."""
    _cm_check(d, w_hex_digits)
    gcols = list(group_by)
    item_cols = items.columns
    probes = items.select(
        *item_cols,
        F.explode(_cm_probe(F.col(col), d, w_hex_digits)).alias("_cm"),
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


def _hs_check(prefix_hex: int) -> None:
    if not 1 <= prefix_hex <= 8:
        raise ValueError(f"prefix_hex must be 1..8; got {prefix_hex}")


def hash_sample_sketch(
    df: DataFrame,
    col: str,
    group_by: Sequence[str] = (),
    prefix_hex: int = 1,
) -> DataFrame:
    """Distinct hash-sample sketch of ``col`` per ``group_by`` group —
    the SET-OPERATIONS member of this module's family (HLL/Bloom =
    cardinality, count-min = frequency, histogram = quantiles; this one
    adds union AND intersection).  Keep the distinct ``md5`` digests
    whose first ``prefix_hex`` hex digits are all ``'0'`` — a
    fixed-threshold bottom sketch (a theta sketch with theta pinned at
    ``16^-prefix_hex``, the pure-SQL form of KMV): every distinct value
    is retained with probability ``16^-prefix_hex`` decided by its own
    hash, so sketches of different datasets are COORDINATED samples of
    the same hash space and set algebra works directly on them:

    * union      = distinct union of the samples
    * intersect  = hashes present in both samples
    * |S| ≈ ``16^prefix_hex · |sample|``  (unbiased; relative stderr
      ≈ ``sqrt(16^prefix_hex / |S|)`` — pick ``prefix_hex`` so the
      expected sample is ≥ a few hundred rows)

    This is the scale path for overlap/contamination measurement: HLL
    merges give union only — intersection via inclusion-exclusion
    compounds three estimates' errors — while here the intersection is
    itself a direct coordinated sample (q91 measures train/holdout
    vocabulary-style overlap with it).

    Deterministic and engine-replayable by construction: the oracle is
    ``WHERE substr(md5(x), 1, prefix_hex) = '00..'`` + ``DISTINCT`` —
    no private hash, no float.  NULLs are ignored like
    ``count(DISTINCT)``.

    Scale (100 TB): the prefix filter is evaluated map-side inside the
    scan stage, so only ``~n/16^prefix_hex`` rows ever reach the
    distinct's exchange — the sketch never shuffles the full input,
    unlike exact ``count(DISTINCT)``.  The sample itself is the
    mergeable persistable form (like the HLL register table): distinct
    union of per-day samples == the sample of the union, exactly.

    Returns ``group_by + [_hs_hash string]`` (one row per retained
    distinct value per group)."""
    _hs_check(prefix_hex)
    gcols = list(group_by)
    h = F.md5(F.col(col).cast("string"))
    return (
        df.filter(F.col(col).isNotNull())
        .select(*gcols, h.alias("_hs_hash"))
        .filter(
            F.substring("_hs_hash", 1, prefix_hex) == F.lit("0" * prefix_hex)
        )
        .distinct()
    )


def hash_sample_overlap(
    a: DataFrame,
    b: DataFrame,
    group_by: Sequence[str] = (),
    prefix_hex: int = 1,
) -> DataFrame:
    """Set-overlap estimates from two coordinated
    :func:`hash_sample_sketch` outputs (same ``col`` domain, same
    ``prefix_hex``): per group, BIGINT estimates of |A|, |B|, |A∪B|,
    |A∩B| plus a Jaccard estimate (the one double: a single division of
    two exact sample counts; NULL when both samples are empty).

    The intersection estimate is the direct one — hashes retained by
    BOTH sketches, scaled — not inclusion-exclusion over three noisy
    cardinalities; because the samples are coordinated (one hash
    function, one threshold), ``16^prefix_hex · |sample_A ∩ sample_B|``
    is itself an unbiased estimator of ``|A ∩ B|``.

    Scale: both inputs are already ``16^prefix_hex``-fold samples of
    DISTINCT values, so the full-outer join here exchanges only sketch
    rows (a full-outer join cannot broadcast in Spark — but the shuffle
    is over the tiny samples, never the raw data).  Group keys match
    NULL-safely, mirroring groupBy's NULL-key retention."""
    _hs_check(prefix_hex)
    scale = 16 ** prefix_hex
    gcols = list(group_by)
    fa = a.select(*gcols, "_hs_hash", F.lit(1).alias("_hs_a"))
    fb = b.select(*gcols, "_hs_hash", F.lit(1).alias("_hs_b"))
    cond = fa["_hs_hash"] == fb["_hs_hash"]
    for g in gcols:
        cond = cond & fa[g].eqNullSafe(fb[g])
    j = fa.join(fb, cond, "full").select(
        *[F.coalesce(fa[g], fb[g]).alias(g) for g in gcols],
        fa["_hs_a"],
        fb["_hs_b"],
    )
    n_a = F.count("_hs_a")
    n_b = F.count("_hs_b")
    n_i = F.count(F.when(F.col("_hs_a").isNotNull() & F.col("_hs_b").isNotNull(), 1))
    n_u = F.count("*")
    return j.groupBy(*gcols).agg(
        (n_a * scale).cast("long").alias("est_a"),
        (n_b * scale).cast("long").alias("est_b"),
        (n_u * scale).cast("long").alias("est_union"),
        (n_i * scale).cast("long").alias("est_intersection"),
        F.when(n_u > 0, n_i.cast("double") / n_u.cast("double")).alias(
            "jaccard_estimate"
        ),
    )


def bloom_cardinality(
    df: DataFrame,
    col: str,
    group_by: Sequence[str] = (),
    m_hex_digits: int = 4,
    k: int = 2,
) -> DataFrame:
    """Bloom-filter fill-rate distinct estimate ``bloom_estimate`` of ``col`` per
    ``group_by`` group — the sketch complement to :func:`hll_distinct`
    (a Bloom filter built for MEMBERSHIP yields a cardinality estimate
    for free from its fill rate: n ≈ -(m/k)·ln(1 - X/m) with X set
    bits out of m).

    Deterministic and engine-independent by construction: the filter's
    bit array is never materialized — each of the ``k`` hash positions
    is a disjoint ``m_hex_digits``-character substring of ``md5(col)``
    (m = 16^m_hex_digits bits, so a position IS a hex string and the
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

    ``m_hex_digits=4`` (m=65536) with ``k=2`` keeps the fill below
    ~85% out to ~60k distinct values; scale m to the cardinality range
    you care about.  Needs ``m_hex_digits * k <= 32`` (one md5)."""
    if not 1 <= m_hex_digits <= 8:
        raise ValueError(f"m_hex_digits must be 1..8; got {m_hex_digits}")
    if k < 1 or m_hex_digits * k > 32:
        raise ValueError(
            f"need k >= 1 and m_hex_digits * k <= 32; got k={k}"
        )
    m = 16 ** m_hex_digits
    gcols = list(group_by)
    h = F.md5(F.col(col).cast("string"))
    positions = F.array(
        *[
            F.substring(h, 1 + i * m_hex_digits, m_hex_digits)
            for i in range(k)
        ]
    )
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
