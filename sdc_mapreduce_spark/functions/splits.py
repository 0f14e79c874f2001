"""Deterministic dataset splitting for training pipelines.

Train/val/test assignment must be a pure function of row content — never of
partition layout, RNG state, or cluster shape — so that (a) re-running the
pipeline anywhere reproduces the same split, (b) a document can never
migrate between train and eval when data is re-partitioned, and (c) the
assignment is expressible in any engine for auditing. ``df.randomSplit``
satisfies none of these (seeded per-partition).

The assignment key is the first 4 hex chars of md5(salt || key) — compared
against *hex-string* boundaries, so the same predicate runs verbatim in
Spark, DuckDB, or any SQL engine without hex→int conversion: fixed-width
lowercase hex compares lexicographically exactly like the number it encodes.
Granularity is 1/65536 per bucket. A scan-local projection: no shuffle, no
extra pass (the reference has no sampling/splitting at all, SURVEY.md §2.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SPACE = 16**4  # 4 hex chars

# The train/val/test fractions hash_split assigns.
SPLIT_FRACTIONS = {"train": 0.9, "val": 0.05, "test": 0.05}


def _content_hash(key_col: Column, salt: str) -> Column:
    """md5(salt || key) as 32 lowercase hex chars: the row-content hash
    every routing decision here derives from."""
    return F.md5(F.concat(F.lit(salt), key_col.cast("string")))


def _hex_bucket(key_col: Column, salt: str) -> Column:
    """The first 4 hex chars of ``_content_hash``: the 1/65536 bucket."""
    return F.substring(_content_hash(key_col, salt), 1, 4)


def _hex_bucket_sql(key_sql: str, salt: str) -> str:
    """``_hex_bucket`` as ANSI SQL (DuckDB-ready)."""
    return f"SUBSTRING(md5('{salt}' || CAST({key_sql} AS VARCHAR)), 1, 4)"


def _boundaries(fractions: dict[str, float]) -> tuple[list[tuple[str, str]], str]:
    """((name, upper_bound_hex) for all but the last split, last_name).

    Bounds are 4 lowercase hex chars — the same width as the bucket, so the
    lexicographic compare is exactly the numeric compare. The final split
    needs no bound (it is the CASE's ELSE)."""
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"fractions must sum to 1, got {total}")
    names = list(fractions)
    out: list[tuple[str, str]] = []
    acc = 0.0
    for name in names[:-1]:
        acc += fractions[name]
        bound = min(int(round(acc * _SPACE)), _SPACE - 1)
        out.append((name, format(bound, "04x")))
    return out, names[-1]


def split_column(
    key: Column | str, fractions: dict[str, float], salt: str = "split-v1"
) -> Column:
    """The split-name column for a given key column (content-hash routing)."""
    bucket = _hex_bucket(F.col(key) if isinstance(key, str) else key, salt)
    bounds, last = _boundaries(fractions)
    expr = None
    for name, bound in bounds:
        cond = bucket < F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    return F.lit(last) if expr is None else expr.otherwise(F.lit(last))


def split_sql_case(key_sql: str, fractions: dict[str, float], salt: str = "split-v1") -> str:
    """The same assignment as ANSI SQL (DuckDB-ready) for auditing/oracles."""
    bucket = _hex_bucket_sql(key_sql, salt)
    bounds, last = _boundaries(fractions)
    whens = " ".join(
        f"WHEN {bucket} < '{bound}' THEN '{name}'" for name, bound in bounds
    )
    return f"CASE {whens} ELSE '{last}' END" if whens else f"'{last}'"


def hash_split(
    df: DataFrame,
    key: str,
    salt: str = "split-v1",
    split_col: str = "split",
) -> DataFrame:
    """Attach a deterministic SPLIT_FRACTIONS assignment column."""
    return df.withColumn(split_col, split_column(key, SPLIT_FRACTIONS, salt))


def stratified_sample(
    df: DataFrame,
    key: str,
    group_col: str,
    fractions: dict[str, float],
    salt: str = "strat-v1",
) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff its content-hash
    bucket falls below its group's fraction boundary — per-group rates
    (e.g. downsample dominant languages, keep all of rare ones) with the
    same engine-portable hex-boundary predicate as ``hash_split``; rows
    whose group has no configured fraction are dropped. ``sampleBy``
    semantics, minus its seeded-per-partition irreproducibility. A
    scan-local filter: no shuffle, and the predicate pushes toward the
    scan."""
    bucket = _hex_bucket(F.col(key), salt)
    keep = F.lit(False)
    for group, frac in sorted(fractions.items()):
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {group!r} must be in [0,1], got {frac}")
        if frac >= 1.0:
            cond = F.lit(True)  # 'ffff' < '10000' fails lexicographically
        else:
            bound = format(min(int(round(frac * _SPACE)), _SPACE - 1), "04x")
            cond = bucket < F.lit(bound)
        keep = F.when(F.col(group_col) == group, cond).otherwise(keep)
    return df.filter(keep)


def mix_rebalance_plan(
    df: DataFrame, group_col: str, targets: dict[str, float]
) -> DataFrame:
    """Domain-mixing plan: per-group keep fractions that reshape the corpus
    to a target mix by pure downsampling, keeping the largest corpus that
    satisfies the mix (the static form of DoReMi-style domain reweighting:
    scale = min over groups of current_share/target_share; then
    keep_fraction_g = target_g * scale * total / n_g — 1.0 at the binding
    group, clamped so float rounding can never push it past 1 and break the
    ``stratified_sample`` apply path). Every group present in the data
    needs a target share and vice versa (a target group absent from the
    data would make the requested mix silently unreachable).

    ONE aggregation over the corpus; the per-group arithmetic runs on the
    driver over O(groups) rows — bounded by the domain count, never the
    corpus — replaying the same IEEE-double operation order the SQL oracle
    uses, so the plan is oracle-hashable."""
    total_share = sum(targets.values())
    if not 0.999 <= total_share <= 1.001:
        raise ValueError(f"target shares must sum to 1, got {total_share}")
    counts = {
        r["domain"]: r["n_docs"]
        for r in df.groupBy(F.col(group_col).alias("domain"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .collect()
    }
    untargeted = set(counts) - set(targets)
    if untargeted:
        raise ValueError(
            f"groups without a target share: {sorted(untargeted)}"
        )
    absent = set(targets) - set(counts)
    if absent:
        raise ValueError(
            f"target groups absent from the data (mix unreachable): "
            f"{sorted(absent)}"
        )
    total = sum(counts.values())
    # a 0.0 target means "drop this domain entirely" — it contributes
    # nothing to the binding-scale search (its ratio would divide by zero)
    # and keeps nothing
    scale = min(
        (counts[g] / total) / targets[g] for g in sorted(counts) if targets[g] > 0
    )
    rows = []
    for g in sorted(counts):
        n = counts[g]
        if targets[g] > 0:
            kf = min(1.0, targets[g] * scale * total / n)
            kept = int(targets[g] * scale * total // 1)
        else:
            kf, kept = 0.0, 0
        rows.append((g, n, n / total, targets[g], kf, kept))
    return df.sparkSession.createDataFrame(
        rows,
        "domain string, n_docs long, current_share double, "
        "target_share double, keep_fraction double, n_kept long",
    )


def corpus_shuffle(
    df: DataFrame,
    key: str,
    n_shards: int = 8,
    salt: str = "shuffle-v1",
) -> DataFrame:
    """Deterministic global corpus shuffle into training shards.

    Training pipelines need the corpus in a pseudorandom order that is (a)
    independent of ingest/partition layout, (b) reproducible from content
    alone, and (c) auditable in any engine. ``orderBy(rand())`` is none of
    these. Here every row gets a content hash ``md5(salt || key)``; the
    shard is the hash's first 4 hex chars mod ``n_shards``, and the
    position is the rank of the full hash within its shard (key as
    tie-break). Changing ``salt`` is a fresh epoch-level reshuffle.

    Scale: one shuffle on the shard id; each shard is ranked independently
    (per-shard window), so ``n_shards`` is sized to make a shard a
    reducer-sized unit (thousands at 100 TB) — the per-shard hash-rank sort
    IS the shard file's write order, exactly how shuffled training shards
    are laid down. No global window, no driver state."""
    h = _content_hash(F.col(key), salt)
    from pyspark.sql import Window

    shard = F.pmod(
        F.conv(F.substring(F.col("__h"), 1, 4), 16, 10).cast("long"),
        F.lit(n_shards),
    ).cast("int")
    w = Window.partitionBy("__shard").orderBy(F.col("__h").asc(), F.col(key).asc())
    return (
        df.withColumn("__h", h)
        .withColumn("__shard", shard)
        .withColumn("__pos", F.row_number().over(w) - 1)
        .select(
            F.col(key),
            F.col("__shard").alias("shard"),
            F.col("__pos").cast("long").alias("pos"),
        )
    )


def corpus_shuffle_sql(
    key_sql: str, table: str, n_shards: int = 8, salt: str = "shuffle-v1"
) -> str:
    """The same shuffle as ANSI SQL (DuckDB-ready): hex→int via strpos
    arithmetic (no engine-specific conv)."""
    h = f"md5('{salt}' || CAST({key_sql} AS VARCHAR))"
    digit = (
        "(strpos('0123456789abcdef', substring({h}, {i}, 1)) - 1)"
    )
    val = " + ".join(
        f"{16 ** (4 - i)} * " + digit.format(h="h", i=i) for i in range(1, 5)
    )
    return f"""
WITH hashed AS (
  SELECT {key_sql} AS k, {h} AS h FROM {table}
), sharded AS (
  SELECT k, h, CAST(({val}) % {n_shards} AS INT) AS shard FROM hashed
)
SELECT k AS {key_sql}, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h ASC, k ASC) - 1
            AS BIGINT) AS pos
FROM sharded
ORDER BY shard, pos
"""


def stratified_sample_sql_predicate(
    key_sql: str, group_sql: str, fractions: dict[str, float], salt: str = "strat-v1"
) -> str:
    """The same keep-predicate as ANSI SQL for auditing/oracles."""
    bucket = _hex_bucket_sql(key_sql, salt)
    whens = []
    for group, frac in sorted(fractions.items()):
        if frac >= 1.0:
            whens.append(f"WHEN {group_sql} = '{group}' THEN TRUE")
        else:
            bound = format(min(int(round(frac * _SPACE)), _SPACE - 1), "04x")
            whens.append(f"WHEN {group_sql} = '{group}' THEN {bucket} < '{bound}'")
    return f"CASE {' '.join(whens)} ELSE FALSE END"


def pack_sequences(
    df: DataFrame,
    seq_len: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed-context sequence packing with boundary crossing — the
    GPT-style pretraining layout: concatenate all documents in a stable
    global order and cut the token stream into sequences of ``seq_len``;
    a document overlapping a cut is SPLIT across the adjacent sequences
    (no padding waste, unlike first-fit whole-doc packing). Emits the full
    placement map (id, seq_id, start_in_seq, n_tokens_in_seq) a data
    loader consumes, with one row per (document, sequence) overlap.

    All integer arithmetic over a distributed running sum
    (operators.relational.global_running_sum — two-phase, never a
    single-partition window), so the layout is exact, engine-replayable,
    and the plan survives a corpus of any size. Row expansion is bounded:
    a doc spans at most ceil(n_tokens/seq_len)+1 sequences.
    """
    if seq_len < 1:
        raise ValueError("seq_len must be >= 1")
    from sdc_mapreduce_spark.functions.text import tokens
    from sdc_mapreduce_spark.operators.relational import global_running_sum

    counts = df.select(F.col(id_col), F.size(tokens(text_col)).cast("long").alias("__n"))
    cum = global_running_sum(counts, id_col, "__n", out_col="__cum")
    L = F.lit(seq_len).cast("long")
    start = (F.col("__cum") - F.col("__n")).alias("__start")
    spans = cum.select(
        F.col(id_col),
        F.col("__n"),
        F.col("__cum"),
        start,
        F.explode(
            F.sequence(
                F.expr(f"(__cum - __n) div {seq_len}"),
                F.expr(f"(__cum - 1) div {seq_len}"),
            )
        ).alias("seq_id"),
    )
    start_in_seq = F.greatest(F.lit(0).cast("long"), F.col("__start") - F.col("seq_id") * L)
    end_in_seq = F.least(L, F.col("__cum") - F.col("seq_id") * L)
    return spans.select(
        id_col,
        F.col("seq_id").cast("long").alias("seq_id"),
        start_in_seq.cast("long").alias("start_in_seq"),
        (end_in_seq - start_in_seq).cast("long").alias("n_tokens_in_seq"),
    )


def quota_sample(
    df: DataFrame,
    group_col: str = "lang",
    budget: int = 500,
    key: str = "doc_id",
    salt: str = "quota-v1",
) -> DataFrame:
    """Largest-remainder (Hamilton) quota sampling — the eval-set /
    annotation-batch builder: allocate an EXACT total of ``budget`` rows
    across strata proportionally to their sizes, with the fractional
    seats resolved by largest remainder (quota_g = floor(B·n_g/N), the
    B − Σfloor leftover seats going to the largest B·n_g mod N, ties by
    group ascending), then pick each stratum's quota deterministically by
    content-hash order (md5(salt||key), key) — so the selected set is
    cluster-shape- and engine-independent and Σquota = budget EXACTLY
    (temperature/cap mixing only hit their budgets in expectation).
    Requires budget <= N and ENFORCES it (ADVICE r8): with budget > N some
    strata would get quota > n_docs and the function would silently return
    fewer than ``budget`` rows, breaking the advertised exact-total
    invariant — so an oversized budget raises instead. The guard is one
    1-row aggregate collect (an extra count pass over ``df``; this is an
    eval-set builder, not a hot-path operator). Returns the selected rows
    (key, group, pick_rank, quota).

    All allocation arithmetic is integer floor/mod — replays bitwise in
    any engine. Scale shape: the allocation table is a group-cardinality
    aggregate (tiny, broadcast); the pick is one per-stratum window over
    (hash, key). A mega-stratum makes that window the classic single-
    partition cliff — the chunked top-k decomposition
    (operators.relational.top_k_per_group_salted) applies identically
    when a stratum outgrows one executor."""
    from pyspark.sql import Window

    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("__N"))
    n_total = total.collect()[0]["__N"] or 0
    if budget > n_total:
        raise ValueError(
            f"quota_sample: budget={budget} exceeds population N={n_total}; "
            "the exact-total allocation is only defined for budget <= N "
            "(some strata would need quota > their size)"
        )
    alloc = counts.crossJoin(F.broadcast(total)).select(
        group_col,
        "n_docs",
        F.expr(f"({budget} * n_docs) div __N").alias("__base"),
        F.expr(f"({budget} * n_docs) % __N").alias("__rem"),
    )
    leftover = alloc.agg(
        (F.lit(budget) - F.sum("__base")).alias("__leftover")
    )
    w = Window.orderBy(F.col("__rem").desc(), F.col(group_col).asc())
    quota = (
        alloc.withColumn("__rk", F.row_number().over(w))
        .crossJoin(F.broadcast(leftover))
        .select(
            group_col,
            "n_docs",
            (
                F.col("__base")
                + F.when(F.col("__rk") <= F.col("__leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("quota"),
        )
    )
    h = _content_hash(F.col(key), salt)
    pw = Window.partitionBy(group_col).orderBy(h.asc(), F.col(key).asc())
    picked = df.select(F.col(key), F.col(group_col)).withColumn(
        "pick_rank", F.row_number().over(pw)
    )
    return (
        picked.join(F.broadcast(quota), group_col)
        .filter(F.col("pick_rank") <= F.col("quota"))
        .select(key, group_col, "pick_rank", "quota")
    )


def _group_counts(df: DataFrame, group_col: str) -> DataFrame:
    """(group, n_docs, __N): each group's row count beside the corpus
    total, a broadcast scalar."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("__N"))
    return counts.crossJoin(F.broadcast(total))


def _with_kept(
    df: DataFrame, plan: DataFrame, group_col: str, key: str, salt: str, *cols: str
) -> DataFrame:
    """(group, *cols, n_kept) over a per-group ``keep_frac`` plan: n_kept
    counts the rows of ``df`` whose 16-bit content-hash bucket falls under
    keep_frac × 65536 (keep_frac ≥ 1 keeps all). The plan broadcasts into
    a scan-local predicate, so the corpus never shuffles."""
    bucket = F.conv(_hex_bucket(F.col(key), salt), 16, 10).cast("long")
    bound = F.floor(F.col("keep_frac") * F.lit(65536.0)).cast("long")
    kept = (
        df.select(F.col(group_col), bucket.alias("__bucket"))
        .join(F.broadcast(plan), group_col)
        .filter((F.col("keep_frac") >= 1.0) | (F.col("__bucket") < bound))
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return plan.join(kept, group_col, "left").select(
        group_col,
        *cols,
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
    )


def temperature_mix(
    df: DataFrame,
    group_col: str = "lang",
    alpha: float = 0.3,
    budget_frac: float = 0.5,
    key: str = "doc_id",
    salt: str = "tmix-v1",
) -> DataFrame:
    """Temperature-based corpus mixing (the mT5/XLM-R sampling rule):
    group g is sampled with probability ∝ (n_g/N)^alpha — alpha < 1 boosts
    rare groups relative to their natural share — under a total budget of
    ``budget_frac`` × N documents. Returns the per-group plan AND its exact
    realized effect: (group, n_docs, weight_micro, keep_frac, n_kept),
    where n_kept counts the documents the deterministic content-hash
    predicate actually keeps.

    Determinism discipline: the one transcendental per group, (n_g/N)^alpha,
    is quantized ONCE to integer micro-units (round half-up) — the repo's
    milli-nat trick — so every downstream double (keep_frac, the 16-bit
    keep boundary) is derived from exact integers by an identical operation
    sequence in any engine. The keep decision hashes row CONTENT (md5 of
    the key, as hash_split), so the sampled set is cluster-shape- and
    engine-independent.

    Scale shape: the plan is a group-cardinality aggregate plus two scalar
    broadcasts; applying it is one broadcast join and a scan-local
    predicate — no shuffle touches the corpus."""
    wc = _group_counts(df, group_col).withColumn(
        "weight_micro",
        F.round(
            F.lit(1e6)
            * F.pow(F.col("n_docs").cast("double") / F.col("__N"), F.lit(alpha))
        ).cast("long"),
    )
    sw = wc.agg(F.sum("weight_micro").alias("__SW"))
    plan = wc.crossJoin(F.broadcast(sw)).withColumn(
        "keep_frac",
        F.least(
            F.lit(1.0),
            ((F.lit(budget_frac) * F.col("__N")) * F.col("weight_micro"))
            # __SW can reach n_groups*1e6 and n_docs is corpus-sized: a
            # long*long product could wrap past int64 silently in non-ANSI
            # Spark. One factor cast to double (the numerator's path — the
            # division coerces to double anyway, so this is bit-identical
            # wherever the long product doesn't wrap) makes wrap impossible.
            / (F.col("__SW").cast("double") * F.col("n_docs")),
        ),
    )
    return _with_kept(
        df, plan, group_col, key, salt, "n_docs", "weight_micro", "keep_frac"
    )


def source_cap_mix(
    df: DataFrame,
    group_col: str = "source",
    cap_frac: float = 0.3,
    key: str = "doc_id",
    salt: str = "scap-v1",
) -> DataFrame:
    """Hard per-group share cap (the C4/Gopher "domain cap" rule): no group
    may contribute more than ``cap_frac`` of the corpus, so
    keep_frac_g = min(1, cap_frac*N / n_g) — groups under the cap pass
    whole, oversized groups are down-sampled to exactly the cap. The
    asymmetric complement of :func:`temperature_mix` (which REWEIGHTS by a
    power law; this TRUNCATES dominant sources — the rule crawl pipelines
    apply to mega-domains before any temperature pass).

    The keep decision hashes row CONTENT (md5 of the key, as hash_split),
    so the sampled set is cluster-shape- and engine-independent, and
    keep_frac is derived by the identical double-arithmetic sequence in
    any engine (cap_frac*N is double before the division — no integer
    product can wrap). Returns (group, n_docs, keep_frac, n_kept).

    Scale shape: one group-cardinality aggregate, one scalar broadcast,
    then a broadcast join + scan-local predicate — the corpus never
    shuffles."""
    plan = _group_counts(df, group_col).withColumn(
        "keep_frac",
        F.least(
            F.lit(1.0),
            (F.lit(cap_frac) * F.col("__N")) / F.col("n_docs"),
        ),
    )
    return _with_kept(df, plan, group_col, key, salt, "n_docs", "keep_frac")


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    key: str = "doc_id",
    salt: str = "wsample-v1",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, distributed and deterministic —
    the Efraimidis–Spirakis exponential-sort scheme: each row gets priority
    u^(1/w) for a uniform u and weight w, and the global top-k priorities
    are the sample. u comes from the row's content hash (16 hex chars of
    md5 → uniform in (0,1)), so the drawn sample is cluster-shape-,
    run- and engine-independent — the property `df.sample`'s per-partition
    RNG cannot give. The priority is floor-quantized to NANO-units with a
    key tie-break, so the one `pow` per row can never flip an ordering
    cross-engine (nano keeps ~1e7 distinct levels even when large weights
    push every priority toward 1, while a 1-ULP pow divergence moves
    pri*1e9 by only ~2e-7 — finer quantization would trade that safety
    margin away).

    Scale shape: a scan-local projection followed by a global top-k, which
    Catalyst plans as TakeOrdered (per-partition heaps + a k-row driver
    merge) — no sort, no shuffle of the corpus. Zero-weight rows get
    priority 0 (never sampled ahead of any positive weight)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    u = (
        F.conv(
            F.substring(_content_hash(F.col(key), salt), 1, 15),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(16**15))
    w = F.col(weight_col).cast("double")
    pri = F.when(w > 0, F.pow(u, F.lit(1.0) / w)).otherwise(F.lit(0.0))
    pri_nano = F.floor(pri * F.lit(1e9)).cast("long")
    return (
        df.select(
            F.col(key),
            F.col(weight_col).alias("weight"),
            pri_nano.alias("priority_nano"),
        )
        .orderBy(F.col("priority_nano").desc(), F.col(key).asc())
        .limit(k)
    )


def time_purged_split(
    df: DataFrame,
    cutoff: str,
    embargo_minutes: int = 60,
    ts_col: str = "ts",
) -> DataFrame:
    """Leakage-free temporal split — the event-data analog of the purged
    walk-forward split (Lopez de Prado, "Advances in Financial ML", ch.7):
    train takes rows strictly before ``cutoff``; an EMBARGO band of
    ``embargo_minutes`` after the cutoff is PURGED (rows whose labels/
    features could straddle the boundary — e.g. a session or a rolling
    window open at the cutoff — belong to neither side); test takes
    everything at or after cutoff + embargo. Pure column expressions: a
    map-stage tag, no shuffle, partition-prunable when the table is
    date-partitioned. Adds a ``split`` column in {train, purged, test}."""
    # build the cutoff literal safely (ADVICE r9): lit().cast() keeps a
    # malformed caller string out of the SQL parser — under ANSI mode a bad
    # cutoff raises a clear cast error instead of an opaque parse error,
    # and a quote-containing string can't alter the expression at all. The
    # only F.expr is over the validated int.
    c = F.lit(cutoff).cast("timestamp_ntz")
    e = c + F.expr(f"INTERVAL {int(embargo_minutes)} MINUTES")
    t = F.col(ts_col)
    return df.withColumn(
        "split",
        F.when(t < c, F.lit("train")).when(t < e, F.lit("purged")).otherwise(
            F.lit("test")
        ),
    )
