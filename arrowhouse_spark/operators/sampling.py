"""Deterministic sampling / dataset-split operators for training-data
pipelines (BASELINE.json north star; the reference has no sampling surface —
its closest notion is the GROUP BY overflow knob, SURVEY.md §2.3).

Everything here is hash-deterministic, not RNG-based: the same row always
lands in the same bucket/split regardless of partitioning, executor count, or
retries — the property training pipelines need for stable held-out sets and
reproducible subsets. The hash is an md5 prefix so an independent engine
(DuckDB oracle) reproduces assignments bit-for-bit.

Scale notes:
  - ``hash_bucket`` / ``hash_sample`` / ``train_test_split`` are pure
    map-side column expressions — no shuffle, no state; they survive any
    repartitioning and stream through at scan speed.
  - ``stratified_sample_exact`` takes exactly ceil(frac·n) rows per stratum
    via a per-stratum window — one shuffle keyed by the strata; a single
    giant stratum serializes into one task, so at 100 TB use it for
    bounded-cardinality strata (language, source, shard) and fall back to
    ``hash_sample`` (approximate fraction, no shuffle) otherwise.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def hash_bucket(col: Column | str, n_buckets: int, salt: str = "") -> Column:
    """Stable bucket id in [0, n_buckets) from an md5 prefix of the salted
    key. 8 hex chars = 32 bits of hash — bucket skew ~ 1/sqrt(2^32) —
    and reproducible in any engine with md5 (the DuckDB oracle)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), _c(col).cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    return (h % n_buckets).alias("bucket")


def hash_sample(
    df: DataFrame,
    key: Column | str,
    frac: float,
    salt: str = "sample",
    n_buckets: int = 10_000,
) -> DataFrame:
    """Approximate-fraction deterministic sample: keep rows whose hash bucket
    falls below frac·n_buckets. Map-side only — the scale path."""
    return df.filter(hash_bucket(key, n_buckets, salt) < int(round(frac * n_buckets)))


def train_test_split(
    df: DataFrame,
    key: Column | str,
    test_frac: float = 0.1,
    salt: str = "split",
    n_buckets: int = 1_000,
) -> tuple[DataFrame, DataFrame]:
    """(train, test) with a stable per-key assignment: a key is in test iff
    its bucket < test_frac·n_buckets. Keys never migrate between splits when
    the data grows — the property that prevents test-set leakage across
    pipeline runs."""
    cut = int(round(test_frac * n_buckets))
    b = hash_bucket(key, n_buckets, salt)
    return df.filter(b >= cut), df.filter(b < cut)


def stratified_sample_exact(
    df: DataFrame,
    strata: Sequence[str],
    frac: float,
    key: str,
    salt: str = "strata",
) -> DataFrame:
    """Exactly ceil(frac·n) rows per stratum, chosen deterministically: rows
    rank by (md5(salt‖key), key) inside each stratum and the top fraction
    survives. One shuffle keyed by the strata columns."""
    h = F.md5(F.concat(F.lit(salt), _c(key).cast("string")))
    w = Window.partitionBy(*strata).orderBy(h, F.col(key))
    cnt = Window.partitionBy(*strata)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(cnt))
        .filter(F.col("__rn") <= F.ceil(F.lit(frac) * F.col("__n")))
        .drop("__rn", "__n")
    )


def source_mixing_plan(
    df: DataFrame, weights: dict[str, int], source_col: str = "source"
) -> DataFrame:
    """The largest deterministic downsample matching a target source mix
    WITHOUT upsampling — the corpus-mixing step of a training-data pipeline
    (e.g. weights {'web': 5, 'books': 3, 'code': 2} for a 50/30/20 mix).

    Targets are INTEGER weights so the arithmetic is engine-exact: with
    m = min_s floor(n_s / w_s), every source takes take_n = w_s · m rows —
    the unique maximal mix-respecting sample sizes. Returns one row per
    weighted source: (source, n_avail, take_n). Sources outside ``weights``
    contribute nothing.

    Scale: one aggregation over the corpus (map-side partial on the source
    key) + a broadcast of a |weights|-row relation; the corpus itself is
    not moved."""
    if not weights or any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be positive integers per source")
    spark = df.sparkSession
    from arrowhouse_spark.sources.memory import one_block

    wdf = one_block(
        spark,
        [(s, int(w)) for s, w in weights.items()],
        f"{source_col} string, w long",
    )
    counts = (
        df.groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("n_avail"))
        .join(F.broadcast(wdf), source_col)
    )
    m = counts.agg(
        F.min(F.floor(F.col("n_avail") / F.col("w"))).alias("m")
    )
    return (
        counts.crossJoin(F.broadcast(m))
        .select(
            source_col,
            "n_avail",
            (F.col("w") * F.col("m")).alias("take_n"),
        )
    )


def source_mixed_sample(
    df: DataFrame,
    weights: dict[str, int],
    key: str,
    source_col: str = "source",
    salt: str = "mix",
    exact: bool = True,
) -> DataFrame:
    """Materialize :func:`source_mixing_plan`: inside each weighted source,
    rows rank by (md5(salt‖key), key) — the deterministic, engine-
    independent order used across this module — and the top ``take_n``
    survive. One shuffle keyed by source. ``key`` identifies a row within
    its source; the same key may appear in several sources.

    ``exact=True`` gives exact per-source counts but windows each source in
    one task — fine up to ~10⁷ rows per source, a hot-spot beyond. At
    100 TB use ``exact=False``: each row keeps iff its md5 hash falls under
    the per-source rate take_n/n_avail — a pure map-side filter (broadcast
    plan join, NO shuffle, no hot task) whose counts are binomial around
    take_n (±~sqrt(take_n)) — the same determinism (a row's fate depends
    only on its key), traded for exact counts."""
    plan = source_mixing_plan(df, weights, source_col)
    return _take_per_source(df, plan, key, source_col, salt, exact)


def _take_per_source(
    df: DataFrame,
    plan: DataFrame,
    key: str,
    source_col: str,
    salt: str,
    exact: bool,
) -> DataFrame:
    """Materialize a (source, n_avail, take_n) plan over ``df`` — the shared
    back half of source_mixed_sample and temperature_mix_sample."""
    h = F.md5(F.concat(F.lit(salt), _c(key).cast("string")))
    joined = df.join(F.broadcast(plan), source_col)
    if not exact:
        # first 13 hex chars = 52 uniform bits — within the 53-bit double
        # mantissa, so the uniform variate is genuinely exact (no rounding)
        u = F.conv(F.substring(h, 1, 13), 16, 10).cast("double") / F.lit(
            float(1 << 52)
        )
        return joined.filter(
            u < F.col("take_n") / F.col("n_avail")
        ).drop("n_avail", "take_n")
    # Rank on a lightweight (key, source, take_n) projection so the
    # per-source window (one task per source by construction) shuffles
    # bytes proportional to the KEY, not the row payload — text/token
    # columns previously rode the hashpartitioning(source) exchange into
    # ≤|sources| tasks and serialized the pipeline tail (~2 s single-task
    # stages at sf0.1). The winners then attach back by (key, source) at
    # normal join parallelism: decide with small rows, move big rows once
    # (guide §8). Winner selection depends only on (source, md5, key),
    # so the surviving set is unchanged. The source is part of the join
    # key because one key may appear in several sources, and a win in one
    # must not admit its row in another; ``key`` must be unique within a
    # source.
    w = Window.partitionBy(source_col).orderBy(h, F.col(key))
    winners = (
        joined.select(key, source_col, "take_n")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.col("take_n"))
        .select(key, source_col)
    )
    return joined.join(winners, [key, source_col], "semi").drop(
        "n_avail", "take_n"
    )


def temperature_mixing_plan(
    df: DataFrame,
    alpha: float = 0.7,
    total: int = 200,
    source_col: str = "source",
) -> DataFrame:
    """Per-source sample sizes ∝ n_s^alpha — multinomial temperature
    sampling (the GPT-3 / XLM-R mixing knob, public): alpha=1 keeps natural
    proportions, alpha→0 flattens toward uniform, upweighting small
    high-quality sources. take_n = min(floor(round(total·p_s, 6)), n_s)
    with p_s = n_s^alpha / Σ n^alpha; the 6-decimal rounding before floor
    pins the one float step (pow + double sum) to a cross-engine-stable
    value, same convention as the libm-sensitive scores.

    Scale: one keyed count over the corpus + a |sources|-row broadcast —
    the corpus itself never moves."""
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_avail"))
    pw = counts.withColumn(
        "__pw", F.pow(F.col("n_avail").cast("double"), F.lit(float(alpha)))
    )
    tot = pw.agg(F.sum("__pw").alias("__tot"))
    return pw.crossJoin(F.broadcast(tot)).select(
        source_col,
        "n_avail",
        F.least(
            F.floor(
                F.round(F.lit(float(total)) * F.col("__pw") / F.col("__tot"), 6)
            ).cast("long"),
            F.col("n_avail"),
        ).alias("take_n"),
    )


def temperature_mix_sample(
    df: DataFrame,
    alpha: float = 0.7,
    total: int = 200,
    key: str = "doc_id",
    source_col: str = "source",
    salt: str = "tmix",
    exact: bool = True,
) -> DataFrame:
    """Materialize :func:`temperature_mixing_plan` with the module's
    deterministic md5 rank — same exact/approx trade as
    :func:`source_mixed_sample` (exact windows each source in one task;
    ``exact=False`` is the map-side 100 TB path)."""
    plan = temperature_mixing_plan(df, alpha, total, source_col)
    return _take_per_source(df, plan, key, source_col, salt, exact)


def split_leakage_check(
    df: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    test_frac: float = 0.1,
    salt: str = "split",
    n_buckets: int = 1_000,
) -> DataFrame:
    """Cross-split content-leakage audit — the QA step that motivates
    dedup-BEFORE-split: a train/test split keyed by id is stable per key,
    but two ids carrying identical content can land on opposite sides,
    leaking test content into training. Returns one row per normalized
    content fingerprint present in BOTH splits: (fp, n_train,
    min_train_id, n_test, min_test_id) — empty means the split is clean.

    Scale: fingerprint + bucket are map-side; each split side reduces to
    (fp, count, min_id) via a keyed aggregation before the inner join on
    fp, so the shuffles carry 16-byte fingerprints and two longs — never
    text — and the join output is bounded by the duplicate-content set."""
    from arrowhouse_spark.operators.text import fingerprint

    train, test = train_test_split(
        df, key, test_frac=test_frac, salt=salt, n_buckets=n_buckets
    )
    tr = (
        fingerprint(train, text_col=text_col)
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.min(key).alias("min_train_id"),
        )
    )
    te = (
        fingerprint(test, text_col=text_col)
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.min(key).alias("min_test_id"),
        )
    )
    return tr.join(te, "fp")


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    key: str = "doc_id",
    salt: str = "ws",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, k rows
    (Efraimidis & Spirakis 2006 A-ES): each row draws the hash-derived
    uniform u ∈ (0,1] and races with key ``ln(u)/w`` — taking the top-k
    maximizes u^(1/w), which selects each row with probability
    proportional to its weight, jointly without replacement. The
    statistically correct form of corpus up/down-weighting (a per-row
    Bernoulli can't hit an exact budget; a plain top-k-by-weight is
    deterministic but biased to heavy rows only). Rows with weight ≤ 0 or
    NULL never qualify, matching the estimator's domain. u is the same
    md5-prefix uniform every sampler here uses, so an independent engine
    reproduces the draw bit-for-bit; the race key is one libm ``ln`` per
    row (sub-ulp cross-engine divergence only reorders keys closer than
    ~1e-15 relative — no fixture pair is remotely that close).

    Scale: map-side u/key computation fused into the scan + ONE
    TakeOrdered(k) — no shuffle beyond the top-k collection; weights
    need no normalization pass (the race is scale-invariant)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), _c(key).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("double")
    # (v+1)/2^32 ∈ (0, 1]: never 0, so ln(u) is finite
    u = (h + F.lit(1.0)) / F.lit(4294967296.0)
    race = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col).cast("double") > 0)
        .withColumn("race_key", F.round(race, 9))
        .orderBy(F.col("race_key").desc(), _c(key))
        .limit(k)
    )


def cap_per_key(
    df: DataFrame,
    key_col: str,
    id_col: str,
    max_rows: int,
    salt: str = "cap",
) -> DataFrame:
    """Keep at most ``max_rows`` rows per key, selected by a deterministic
    hash race — the crawl-pipeline domain cap (C4/RefinedWeb keep ≤N pages
    per registered domain so no single host dominates the corpus; same
    mechanism caps per-source or per-near-dup-cluster contributions).

    Selection order is md5(salt, id) ascending with id tiebreak: a
    layout-independent uniform draw (the stratified_sample/weighted_sample
    discipline — NOT rand(), NOT input order), so the kept set is
    reproducible across runs, partitionings, and engines. ONE per-key
    window bounded by the key's rows; hot keys degrade to a sorted
    partition of that key only, and the window state is row_number-sized.
    """
    race = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(F.col(key_col)).orderBy(race, F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_rows)
        .drop("__rn")
    )


def contrastive_negatives(
    anchors: DataFrame,
    pool: DataFrame,
    id_col: str,
    label_col: str,
    k: int = 5,
    salt: str = "neg",
) -> DataFrame:
    """Deterministic uniform negative sampling for contrastive training:
    for each anchor, the ``k`` pool rows with a DIFFERENT label whose
    md5(salt‖anchor_id‖':'‖cand_id) ranks smallest — the md5-race
    discipline every sampler in this module uses, so the draw is
    uniform-ish, reproducible under any partitioning, and replayable by
    any engine with md5. Same-id and same-label candidates are excluded
    (a same-label "negative" is a false negative in the InfoNCE loss).

    Returns (anchor_id, neg_id, neg_label, neg_rank 1..k).

    Shape: anchors BROADCAST against the pool (the anchor set is a
    bounded per-batch relation — contrastive batches are, by
    construction, small relative to the corpus), one per-anchor
    PARTITIONED window for the top-k race. At full-corpus anchor counts
    swap the broadcast for a hash_bucket equi-join (sample k buckets per
    anchor, race within) — same semantics, bounded fan-out; documented
    rather than defaulted because the equi-join draw is bucket-uniform,
    not pool-uniform."""
    if k < 1:
        raise ValueError(f"need k >= 1, got {k}")
    a = anchors.select(
        _c(id_col).alias("anchor_id"), _c(label_col).alias("__alab")
    )
    p = pool.select(
        _c(id_col).alias("neg_id"), _c(label_col).alias("neg_label")
    )
    cand = p.join(
        F.broadcast(a),
        (F.col("neg_label") != F.col("__alab"))
        & (F.col("neg_id") != F.col("anchor_id")),
    )
    h = F.md5(
        F.concat(
            F.lit(salt),
            F.col("anchor_id").cast("string"),
            F.lit(":"),
            F.col("neg_id").cast("string"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(h, F.col("neg_id"))
    return (
        cand.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select("anchor_id", "neg_id", "neg_label", "neg_rank")
    )


def waterfill_allocation(
    avail: DataFrame,
    key_col: str,
    avail_col: str,
    budget_frac: float | None = None,
    budget: float | None = None,
) -> DataFrame:
    """Equal-share WATERFILLING of a token budget across sources with
    availability caps — the mixture-design step of a training-data build
    (each source should contribute equally, but a small source can't
    supply its equal share, so its shortfall redistributes among the
    uncapped sources; DoReMi-style mixture tuning reduces to this with
    non-uniform weights). Returns one row per key: ``avail``, ``alloc``
    (4 dp), ``rate`` = alloc/avail (6 dp), ``capped``.

    Math: alloc_i = min(a_i, θ*) where the waterline θ* solves
    Σ min(a_j, θ*) = B. θ* is found declaratively, with NO iteration and
    NO window: every a_i is a candidate waterline; a key-pair join
    computes alloc(a_i) = Σ_j min(a_j, a_i) (monotone in θ), the largest
    candidate with alloc ≤ B anchors the closed-form
    θ* = θ_lo + (B − alloc(θ_lo)) / |{j : a_j > θ_lo}|.

    Determinism doctrine: availabilities are integers, so every
    comparison and the anchor election are integer-exact; the single
    double division producing θ* has identical operands on any engine —
    bit-identical results without quantization tricks.

    Scale: the join is |sources|², a DIMENSION-sized relation (sources,
    not rows — never the corpus); everything below the one keyed agg
    producing ``avail`` is broadcast-sized. With B ≥ Σ avail the
    uncapped set is empty and θ* degenerates to max(a) — all sources
    fully taken (guarded, no division by zero)."""
    if (budget_frac is None) == (budget is None):
        raise ValueError("pass exactly one of budget_frac / budget")
    a = avail.select(
        F.col(key_col).alias("__k"), F.col(avail_col).cast("double").alias("__a")
    )
    if budget is not None:
        b = a.sparkSession.range(1).select(F.lit(float(budget)).alias("__b"))
    else:
        b = a.agg((F.lit(budget_frac) * F.sum("__a")).alias("__b"))
    alloc_cand = (
        # DISTINCT candidate waterlines: two sources with the same
        # availability a must contribute ONE candidate θ=a — without the
        # dedup the groupBy below merges k·n cross-join rows for a
        # k-duplicated value and inflates alloc(θ=a) by k×, wrongly
        # excluding the candidate and breaking budget conservation
        # (counterexample pinned in tests/test_properties.py: avails
        # [2,2,3], budget 6.3 allocated only 6.1)
        a.select(F.col("__a").alias("__theta"))
        .distinct()
        .crossJoin(a.select(F.col("__a").alias("__o")))
        .groupBy("__theta")
        .agg(F.sum(F.least(F.col("__o"), F.col("__theta"))).alias("__al"))
    )
    lo = (
        alloc_cand.crossJoin(F.broadcast(b))
        .filter(F.col("__al") <= F.col("__b"))
        .agg(F.coalesce(F.max("__theta"), F.lit(0.0)).alias("__theta_lo"))
    )
    alloc_lo = (
        a.crossJoin(F.broadcast(lo))
        .agg(
            F.sum(F.least(F.col("__a"), F.col("__theta_lo"))).alias("__alloc_lo"),
            F.sum((F.col("__a") > F.col("__theta_lo")).cast("long")).alias("__nu"),
            F.first("__theta_lo").alias("__theta_lo"),
        )
    )
    star = alloc_lo.crossJoin(F.broadcast(b)).select(
        F.when(F.col("__nu") == 0, F.col("__theta_lo"))
        .otherwise(
            F.col("__theta_lo")
            + (F.col("__b") - F.col("__alloc_lo")) / F.col("__nu")
        )
        .alias("__theta")
    )
    out = a.crossJoin(F.broadcast(star))
    al = F.least(F.col("__a"), F.col("__theta"))
    return out.select(
        F.col("__k").alias(key_col),
        F.col("__a").cast("long").alias("avail"),
        F.round(al, 4).alias("alloc"),
        F.round(al / F.col("__a"), 6).alias("rate"),
        (F.col("__a") <= F.col("__theta")).alias("capped"),
    )
