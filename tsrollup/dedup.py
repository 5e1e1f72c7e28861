"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram Jaccard — all expressed as
declarative DataFrame plans (shuffle-conscious: shingle explode → partial agg;
LSH banding turns the O(n²) pair space into per-bucket joins). Hashing is
md5-based so every op is reproducible cross-engine (DuckDB oracles in
__spark_entry__.py): ``h_i(x) = bigint(md5(i || x)[:15 hex])`` is a family of
independent 60-bit hash functions available identically in Spark
(conv(substr(md5(..)))) and DuckDB (('0x'||substr(md5(..)))::bigint).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _h60(col: Column, salt: int | None = None) -> Column:
    """60-bit integer hash from md5 (cross-engine deterministic)."""
    x = F.concat(F.lit(f"{salt}|"), col) if salt is not None else col
    return F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash: one representative (min doc_id) per
    distinct text; group sizes for dup accounting. Hash-groupBy scales to any
    corpus (partial agg map-side; no row ever carries the full text twice)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_md5"), "doc_id")
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("keep_doc_id"),
             F.count("*").alias("n_copies"))
    )


def _shingles_of(w: Column, n: int) -> Column:
    idx = F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(w, i + 1, n), " ")))


def word_shingles(df: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """Exploded form (doc_id, shingle) — for the shared-shingle pair join.

    The shingle expression is inlined INTO the explode (split still staged
    as ``_w`` — one split per row) instead of exploding a staged ``_sh``
    attribute: explode over a bare attribute lets InferFiltersFromGenerate
    add a ``size(_sh) > 0`` guard, and predicate pushdown then substitutes
    the attribute's defining expression and sinks the whole (interpreted,
    CodegenFallback) shingle transform below the scan-widening exchange —
    re-evaluating it per row on the scan's few real tasks. Measured at
    sf1.0: 11.4 s staged vs 1.0 s inlined for the identical output. The
    rule only fires when the generator child is a plain attribute, so the
    inline form never grows the inferred filter in the first place."""
    return (df.select("doc_id", F.split(F.col(text_col), " ").alias("_w"))
            .select("doc_id",
                    F.explode(_shingles_of(F.col("_w"), n)).alias("shingle")))


def ngram_jaccard_pairs(df: DataFrame, n: int = 3, threshold: float = 0.5,
                        text_col: str = "text",
                        max_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via the shared-shingle join: doc
    pairs only materialize if they share >=1 shingle (never the full n^2
    space); |A∩B| from the join, |A|,|B| from per-doc counts, Jaccard
    derived.

    ``max_df`` drops shingles whose document frequency exceeds it BEFORE the
    self-join — the 100 TB guard: one corpus-common shingle otherwise creates
    a df² pair group (quadratic hot key), and a shingle shared by thousands
    of docs carries no near-dup signal anyway. Jaccard is then computed over
    the FILTERED shingle sets (sizes recomputed post-filter), the standard
    convention. The cap is ONE window count over the shingle partitioning
    (the same exchange the pair self-join needs, so the capped stream arrives
    at the join already hash-partitioned on its key) — the earlier
    groupBy+join form built the exploded shingle stream twice (measured
    1.7× slower at sf0.1).

    Shingles are hashed to 60-bit ints (md5 slice — identical in the DuckDB
    oracle, so even collision behavior matches exactly) before any shuffle:
    the self-join then exchanges/sorts 8-byte longs instead of n-gram
    strings.

    Considered and REJECTED (round 5, measured): an AllPairs/PPJoin
    prefix-filtered set-similarity join (Bayardo et al. WWW'07) — sorted
    per-doc hash arrays, prefix-only self-join, array_intersect
    verification. It is exact and cuts candidate volume ~quadratically with
    the prefix fraction, but needs an extra full-stream exchange
    (collect_list into per-doc arrays) plus two verification joins; at
    df-capped volumes the pair AGGREGATE is cheap and the prefix plumbing
    costs more than it saves (interleaved A/B at sf0.1: 5.5 s vs 3.5 s
    here). The df cap, not prefix filtering, is what bounds the quadratic
    risk at 100 TB; revisit prefix filtering only if the cap must go."""
    from pyspark.sql import Window

    sh = word_shingles(df, n, text_col) \
        .select("doc_id", _h60(F.col("shingle")).alias("shingle"))
    if max_df is not None:
        sh = (sh.withColumn("_df",
                            F.count("*").over(Window.partitionBy("shingle")))
              .filter(F.col("_df") <= max_df).drop("_df"))
    # carry each doc's (post-cap) set size ON the shingle rows (one more
    # window count) instead of a separate sizes branch: the earlier
    # sizes-groupBy + two broadcast joins re-computed the exploded/capped
    # shingle stream two extra times — 4 corpus scans per query where the
    # self-join's 2 is the floor
    sh = sh.withColumn("n_sh", F.count("*").over(Window.partitionBy("doc_id")))
    pairs = (
        sh.alias("a").join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.n_sh").alias("_na"), F.col("b.n_sh").alias("_nb"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"),
             F.min("_na").alias("n_a"), F.min("_nb").alias("n_b"))
    )
    return (
        pairs
        .withColumn("jaccard",
                    F.col("shared").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "shared", "n_a", "n_b", "jaccard")
    )


def novelty_stats(df: DataFrame, n: int = 3,
                  text_col: str = "text") -> DataFrame:
    """Per-doc vocabulary NOVELTY in ingestion order (doc_id as arrival
    order): of a doc's distinct word n-grams, the fraction appearing in NO
    earlier doc — i.e. grams whose corpus-first posting is this doc. The
    curation saturation signal: as a crawl saturates, per-doc novelty
    decays toward 0 and marginal docs stop paying for their storage; the
    per-gram twin of exact_dedup's whole-doc MIN(doc_id) keep rule.

    Exactly one doc gets the "new" credit per gram (the MIN holder), so
    Σ n_new = |corpus gram vocabulary| — a useful invariant (tested).

    Shape: the per-doc gram sets are already distinct inside one row
    (``_shingles_of``'s array_distinct — no global DISTINCT shuffle), so
    the plan pays one gram-hash exchange (the MIN window) and one doc
    regroup — no pair space, no quadratic key; grams are 60-bit md5 ints
    before the shuffle (8-byte exchange rows, identical in the DuckDB
    oracle down to collision behavior). ``novelty`` is one IEEE division
    of exact int64s."""
    sh = word_shingles(df, n, text_col) \
        .select("doc_id", _h60(F.col("shingle")).alias("_g"))
    from pyspark.sql import Window

    first = F.min("doc_id").over(Window.partitionBy("_g"))
    return (sh.withColumn("_first", first)
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_grams"),
                 F.sum((F.col("_first") == F.col("doc_id")).cast("long"))
                 .cast("long").alias("n_new"))
            .withColumn("novelty",
                        F.col("n_new").cast("double")
                        / F.col("n_grams").cast("double")))


def minhash_signatures(df: DataFrame, k: int = 8, n: int = 3,
                       text_col: str = "text") -> DataFrame:
    """k-permutation MinHash signatures over word n-gram shingles:
    sig_i(doc) = min over shingles of an independent 60-bit hash.

    Shape: shingles EXPLODE to rows and the k per-doc minimums reduce
    through ONE map-side-combined aggregation — exploded rows of a doc
    stay in their partition, so the partial min collapses them before the
    exchange, which carries one narrow row per doc. This replaced the
    earlier zero-shuffle higher-order-function form: HOFs are
    CodegenFallback (interpreted), so the per-shingle md5/conv chain paid
    interpreter overhead per element per column, while the exploded form
    runs the whole hash chain in generated code (measured 1.4 s vs 2.2 s
    at sf1.0, bit-identical; feeds lsh_pairs and dedup_cluster too).
    explode_outer only matters for NULL text (split(NULL) is a NULL array):
    it keeps that doc's (doc_id, NULL…) row, as the HOF form did. A doc
    with fewer than ``n`` words is not NULL — _shingles_of's clamped bound
    still emits one truncated shingle for it.

    md5 economy: one 128-bit digest yields TWO disjoint 60-bit hashes
    (hex slices [1..15] and [16..30]), so k signatures cost ⌈k/2⌉ md5
    evaluations per shingle instead of k — codegen subexpression
    elimination shares each salt's digest across its two offset reads.
    The shingle expression is inlined INTO the generator (the
    word_shingles pushback note: a bare staged attribute would let the
    inferred size()>0 filter sink the interpreted shingle transform below
    the widening exchange)."""
    if k % 2:  # odd k: the last salt only uses its first offset
        n_salts = k // 2 + 1
    else:
        n_salts = k // 2
    ex = (df.select("doc_id", F.split(F.col(text_col), " ").alias("_w"))
          .select("doc_id",
                  F.explode_outer(_shingles_of(F.col("_w"), n))
                  .alias("_s")))
    cols = []
    for salt in range(n_salts):
        d = F.md5(F.concat(F.lit(f"{salt}|"), F.col("_s")))
        for off in range(2):
            i = 2 * salt + off
            if i < k:
                cols.append(F.conv(F.substring(d, 1 + 15 * off, 15), 16, 10)
                            .cast("long").alias(f"mh{i}"))
    return (ex.select("doc_id", *cols)
            .groupBy("doc_id")
            .agg(*[F.min(f"mh{i}").alias(f"mh{i}") for i in range(k)]))


def lsh_candidate_pairs(df: DataFrame, k: int = 8, bands: int = 4, n: int = 3,
                        text_col: str = "text",
                        max_bucket: int | None = None) -> DataFrame:
    """MinHash-LSH near-dup candidates: signature split into ``bands`` bands of
    k/bands rows; docs sharing any full band collide. Scale path: the band-key
    groupBy is the only shuffle, and bucket sizes stay small for non-dup data.

    ``max_bucket`` drops band buckets holding more than that many docs before
    the self-join — the guard against a near-dup-heavy corpus turning one
    bucket quadratic. A bucket that large is a dup CLUSTER, not pairs to
    enumerate; route it to exact_dedup / clustering instead of emitting its
    ~size² candidate pairs. The cap is ONE window count over the band_key
    partitioning (the exchange the pair join needs anyway), not a second
    groupBy+join pass over the signature stream."""
    assert k % bands == 0
    rows = k // bands
    sig = minhash_signatures(df, k, n, text_col)
    band_cols = [
        F.struct(F.lit(b).alias("band"),
                 *[F.col(f"mh{b * rows + r}").alias(f"h{r}") for r in range(rows)])
        for b in range(bands)
    ]
    banded = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band_key"))
    if max_bucket is not None:
        from pyspark.sql import Window

        banded = (banded.withColumn(
            "_n", F.count("*").over(Window.partitionBy("band_key")))
            .filter(F.col("_n") <= max_bucket).drop("_n"))
    return (
        # merge hint: a broadcast self-join would compute the (md5-heavy)
        # signature subtree TWICE; sort-merge shuffles both sides on band_key
        # with identical exchanges, so the runtime reuses one computation
        # (measured 1.7x at sf0.1) — and SMJ is the right strategy anyway
        # when both sides are the full corpus.
        banded.alias("a").hint("merge").join(banded.alias("b"), "band_key")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def simhash(df: DataFrame, bits: int = 16, text_col: str = "text") -> DataFrame:
    """SimHash fingerprint: per-bit majority vote over word hashes. ``bits``
    sign sums are computed as JVM-side conditional aggregates in ONE pass
    (explode → groupBy doc); bit b of h60(word) votes ±1."""
    w = (
        df.select("doc_id", F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .withColumn("h", _h60(F.col("word")))
    )
    votes = [
        F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = w.groupBy("doc_id").agg(*votes)
    sig = None
    for b in range(bits):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(2 ** b)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return agg.select("doc_id", sig.cast("long").alias("simhash"))


def near_dup_clusters(edges: DataFrame, nodes: DataFrame | None = None,
                      src: str = "doc_a", dst: str = "doc_b",
                      max_iter: int = 50,
                      reliable_checkpoints: bool = False) -> DataFrame:
    """Connected components over a near-dup edge list — the fuzzy twin of
    exact_dedup's keep_doc_id: every doc gets ``cluster_rep`` = the minimum
    doc_id reachable through near-dup edges (its own id for singletons) and
    ``cluster_sz`` = component size. ``keep = (doc_id = cluster_rep)`` is
    the dedup decision; ``nodes`` (one ``doc_id`` per corpus doc, optional)
    adds the edge-free singletons to the output.

    Algorithm: iterative min-label propagation to a fixed point — label(v)
    starts at v, each round becomes min(label(v), min over neighbors'
    labels), converging in O(component diameter) rounds. Near-dup
    components are tiny, star-ish clusters (diameter ≲ 3 — a dup cluster IS
    mutual similarity), so the round count stays small; for adversarial
    long-path graphs use ``star_contract_components`` (same output
    contract, O(log n) large-star/small-star alternations — Kiveris et
    al., SoCC'14). Each round is
    one join + one groupBy on the (small) label table; the edge list is
    materialized ONCE up front (localCheckpoint) so the per-round lineage
    stays flat and the upstream similarity pipeline (LSH banding, md5) is
    never recomputed; labels are re-checkpointed each round for the same
    reason. Convergence is detected by an aggregate over the propagation
    delta (one tiny action per round), not by comparing snapshots.

    ``reliable_checkpoints=True`` switches the per-round materialization
    from ``localCheckpoint`` (executor-local blocks — fast, but an executor
    loss mid-fixpoint fails the job) to reliable ``checkpoint`` into the
    session's ``sc.setCheckpointDir`` location — the right setting for a
    1000-executor run where losing a node mid-iteration must not restart
    the whole similarity pipeline. Local/bench runs keep the default."""

    def _pin(df: DataFrame) -> DataFrame:
        if reliable_checkpoints:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    def _pin_lazy(df: DataFrame) -> DataFrame:
        # checkpoint-on-first-action: the NEXT action both computes and
        # persists the frame, so pin+measure (and pin+convergence-check
        # below) cost ONE job instead of two — on a small graph the
        # fixpoint is driver/job-latency bound, and each merged barrier
        # is a full scheduler round trip saved
        if reliable_checkpoints:
            return df.checkpoint(eager=False)
        return df.localCheckpoint(eager=False)
    # checkpoint the DIRECTED edge list first, THEN mirror it: a union of
    # two selects over the un-materialized edge DAG would execute the whole
    # upstream similarity pipeline twice (the two union branches share no
    # exchange), and the checkpoint would store every edge in both
    # directions — materialize once, mirror the stored rows (the count
    # below is the materializing action)
    e = _pin_lazy(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # scale-ADAPTIVE round partitioning: every per-round frame is
    # edge/node-sized, so the fixpoint's shuffles are sized from the
    # MEASURED edge count (the count is a bounded action on the already-
    # materialized checkpoint blocks), not from the session-wide shuffle
    # partitions tuned for full-table queries. At production edge counts
    # the clamp leaves the session value untouched; on a small graph it
    # stops every 30k-row round paying 3 × 32 near-empty tasks. The conf
    # is restored before returning — only the in-function fixpoint jobs
    # run under it.
    spark = e.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    sess_parts = int(spark.conf.get(conf_key))
    n_edges = e.count()
    round_parts = max(1, min(sess_parts, -(-2 * n_edges // 100_000)))
    try:
        spark.conf.set(conf_key, str(round_parts))
        labels = _pin(sym.groupBy("u")
                      .agg(F.min("v").alias("_nbr"))
                      .select("u", F.least("u", "_nbr").alias("label")))
        for _ in range(max_iter):
            # neighbor minimum under current labels
            prop = (sym.join(labels.select(F.col("u").alias("v"),
                                           F.col("label").alias("_vl")), "v")
                    .groupBy("u").agg(F.min("_vl").alias("_nl")))
            new_labels = (labels.join(prop, "u", "left")
                          .select("u",
                                  F.least("label", F.coalesce("_nl", "label"))
                                  .alias("label"),
                                  (F.col("label")
                                   > F.coalesce("_nl", "label")).alias("_chg")))
            # pointer jump (label ← label[label]): labels only ever
            # DECREASE toward the component minimum, so short-circuiting
            # through the current label's own label reaches the same
            # fixpoint in O(log diameter) rounds instead of O(diameter) —
            # one extra node-grain join per round, measured 5 → 3 rounds
            # on the sf1.0 graph with identical output
            lj = new_labels.select(F.col("u").alias("_lu"),
                                   F.col("label").alias("_ll"))
            new_labels = (new_labels
                          .join(lj, new_labels["label"] == lj["_lu"], "left")
                          .select("u",
                                  F.least(F.col("label"),
                                          F.coalesce("_ll", "label"))
                                  .alias("label"),
                                  (F.col("_chg")
                                   | (F.col("label")
                                      > F.coalesce("_ll", F.col("label"))))
                                  .alias("_chg")))
            new_labels = _pin_lazy(new_labels)
            changed = new_labels.agg(
                F.sum(F.col("_chg").cast("int")).alias("c")).collect()[0]["c"]
            labels = new_labels.drop("_chg")
            if not changed:
                break
        else:
            raise RuntimeError(
                f"near_dup_clusters did not converge in {max_iter} rounds — "
                "component diameter exceeds the bound; raise max_iter or use "
                "a star-contraction variant for this graph")
    finally:
        spark.conf.set(conf_key, str(sess_parts))
    out = labels.select(F.col("u").alias("doc_id"),
                        F.col("label").alias("cluster_rep"))
    if nodes is not None:
        out = (nodes.select("doc_id").join(out, "doc_id", "left")
               .select("doc_id",
                       F.coalesce("cluster_rep", "doc_id")
                       .alias("cluster_rep")))
    # cluster size as a window count on the one cluster_rep exchange —
    # the earlier sizes-groupBy + join-back referenced `out` twice
    # (recomputing the nodes join per branch) and paid two more exchanges
    from pyspark.sql import Window

    return out.select(
        "doc_id", "cluster_rep",
        F.count("*").over(Window.partitionBy("cluster_rep"))
        .cast("long").alias("cluster_sz"))


def star_contract_components(edges: DataFrame, nodes: DataFrame | None = None,
                             src: str = "doc_a", dst: str = "doc_b",
                             max_iter: int = 60,
                             reliable_checkpoints: bool = False) -> DataFrame:
    """Connected components by LARGE-STAR / SMALL-STAR alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the adversarial-graph twin of ``near_dup_clusters``: min-
    label propagation needs O(component diameter) rounds, which is fine for
    star-ish dup clusters but degenerates on long-path graphs; star
    contraction converges in O(log n) alternations regardless of shape.
    Same output contract as near_dup_clusters: (doc_id, cluster_rep,
    cluster_sz), cluster_rep = component minimum, singletons via ``nodes``.

    Per round (each a groupBy + a join on the shrinking edge list):
      large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
      small-star(u): over edges v ≤ u: m = min(N(u) ∪ {u});
                     emit (v, m) for v ∈ N(u) ∪ {u}, v ≠ m
    The fixpoint is a forest of depth-1 stars rooted at component minima.
    Convergence = the canonical edge set stops changing (size + checksum,
    one tiny action per round)."""
    def _pin(df: DataFrame) -> DataFrame:
        if reliable_checkpoints:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    e = _pin(edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
             .filter(F.col("u") != F.col("v")))

    def _fingerprint(ed: DataFrame):
        r = ed.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h")
        ).collect()[0]
        return (r["n"], str(r["h"]))

    def _large_star(ed: DataFrame) -> DataFrame:
        sym = ed.union(ed.select(F.col("v").alias("u"),
                                 F.col("u").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("_mv"))
                .select("u", F.least("u", "_mv").alias("_m")))
        return (sym.join(mins, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("_m").alias("v"))
                .filter(F.col("u") != F.col("v"))
                .distinct())

    def _small_star(ed: DataFrame) -> DataFrame:
        # direct every edge large→small, group at the large end
        d = ed.select(F.greatest("u", "v").alias("u"),
                      F.least("u", "v").alias("v"))
        mins = d.groupBy("u").agg(F.min("v").alias("_m"))
        relink = (d.join(mins, "u")
                  .select(F.col("v").alias("u"), F.col("_m").alias("v")))
        root = mins.select(F.col("u"), F.col("_m").alias("v"))
        return (relink.union(root)
                .filter(F.col("u") != F.col("v"))
                .distinct())

    fp = _fingerprint(e)
    for _ in range(max_iter):
        e = _pin(_small_star(_large_star(e)))
        nfp = _fingerprint(e)
        if nfp == fp:
            break
        fp = nfp
    else:
        raise RuntimeError(
            f"star_contract_components did not converge in {max_iter} "
            "alternations")
    # fixpoint edges are (member, root) star links; roots self-label
    labels = (e.select(F.col("u").alias("doc_id"),
                       F.col("v").alias("cluster_rep"))
              .union(e.select(F.col("v").alias("doc_id"),
                              F.col("v").alias("cluster_rep")))
              .groupBy("doc_id").agg(F.min("cluster_rep").alias("cluster_rep")))
    out = labels
    if nodes is not None:
        out = (nodes.select("doc_id").join(labels, "doc_id", "left")
               .select("doc_id",
                       F.coalesce("cluster_rep", "doc_id")
                       .alias("cluster_rep")))
    # window count on one cluster_rep exchange (same rationale as the
    # near_dup_clusters tail: the sizes-groupBy + join-back shape
    # referenced `out` twice and paid two more exchanges)
    from pyspark.sql import Window

    return out.select(
        "doc_id", "cluster_rep",
        F.count("*").over(Window.partitionBy("cluster_rep"))
        .cast("long").alias("cluster_sz"))


def contamination_matches(docs: DataFrame, probes: DataFrame, n: int = 8,
                          text_col: str = "text",
                          probe_text_col: str = "text") -> DataFrame:
    """Benchmark DECONTAMINATION — the training-data pipeline op that finds
    corpus documents sharing any word n-gram with a probe set (eval
    benchmark strings): one (doc_id, n_hits, first_hit) row per
    contaminated doc. Standard practice for LLM corpora (n-gram overlap
    decontamination à la GPT-3 appendix C / open replication pipelines).

    Scale shape: the probe side is tiny by construction (benchmarks are
    KB-MB against a 100 TB corpus) — its distinct hashed n-grams BROADCAST,
    so the corpus-side exploded n-gram stream joins map-side with no
    shuffle; the only CORPUS-SIZED exchange is the per-doc hit aggregation,
    carrying only matching rows (the probe-side ``distinct`` adds one more
    hash exchange over the tiny probe set — PLANS.md records both). n-grams ride the same md5→60-bit hashing as the
    dedup family (cross-engine deterministic, so even hash collisions
    reproduce in the DuckDB oracle); ``first_hit`` keeps the minimum
    colliding hash per doc for auditability."""
    from pyspark.sql.functions import broadcast

    d = word_shingles(docs, n, text_col) \
        .select("doc_id", _h60(F.col("shingle")).alias("h"))
    p = (word_shingles(probes.select(F.col("doc_id"),
                                     F.col(probe_text_col).alias("text")),
                       n, "text")
         .select(_h60(F.col("shingle")).alias("h")).distinct())
    return (d.join(broadcast(p), "h")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_hits"),
                 F.min("h").alias("first_hit")))


def duplicated_span_stats(df: DataFrame, n: int = 8,
                          text_col: str = "text") -> DataFrame:
    """Span-level EXACT-substring duplication (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" signal,
    word-grain): per doc, how much of it is covered by an ``n``-gram that
    also appears in ANOTHER doc. The whole-doc ops (jaccard/minhash/simhash)
    rate document pairs; this rates REGIONS — the boilerplate header a
    thousand pages share, the quoted paragraph — which pair-level similarity
    can't see when the rest of the doc differs.

    Positions, not sets: every n-gram start keeps its position; a gram is
    cross-doc duplicated iff its corpus occurrence count exceeds its
    within-doc count (count-over-(g) > count-over-(g,doc) — no
    countDistinct, and both windows ride ONE hash(g) exchange since
    hash(g) clusters (g, doc) too). Covered-position arithmetic is the
    interval-union island sum Σ min(next_dup_start − start, n) (+n for the
    last), computed with one lead window per doc — exact union size, no
    k× position explode.

    Scale shape: the gram stream (one row per word position) pays the
    hash(g) exchange and the per-doc window exchange; the final per-doc
    aggregation reuses the doc partitioning. No df-cap is needed: unlike
    the pair self-join there is no quadratic group — a corpus-common gram
    contributes one flag per occurrence, never df² pairs.

    Output per doc with ≥1 gram: doc_id, n_words, n_grams, n_dup_starts,
    covered_words, dup_frac (covered/n_words, one IEEE division —
    bit-exact in the DuckDB oracle).
    """
    from pyspark.sql import Window

    if n < 1:
        raise ValueError("n must be >= 1")
    w = F.col("_w")
    ng = F.size(w) - n + 1
    # positions explode FIRST and the gram hash computes on the exploded
    # rows in the same stage: as a higher-order-function element the
    # slice/join/md5 chain would run interpreted (CodegenFallback) per
    # position, while here it is generated code — measured 1.5 s vs
    # 2.0 s at sf1.0, bit-identical. The words array is dropped before
    # the gram exchange, so no shuffle ever carries it.
    grams = (df.select("doc_id",
                       F.split(F.col(text_col), " ").alias("_w"))
             .filter(ng >= 1)
             .select("doc_id", F.size(w).alias("n_words"), "_w",
                     F.posexplode(F.sequence(F.lit(0), ng - 1))
                     .alias("pos", "_i"))
             .select("doc_id", "n_words", "pos",
                     _h60(F.array_join(
                         F.slice(w, F.col("pos") + 1, n), " ")).alias("g")))
    cnt_g = F.count("*").over(Window.partitionBy("g"))
    cnt_gd = F.count("*").over(Window.partitionBy("g", "doc_id"))
    flagged = grams.withColumn("_dup", (cnt_g > cnt_gd).cast("int"))
    # next dup start per doc: order (flag, pos) inside the doc partition —
    # dup rows are contiguous in that order, so lead(pos) on a dup row is
    # the next dup start (NULL on the last -> full n coverage)
    wd = Window.partitionBy("doc_id").orderBy("_dup", "pos")
    nxt = F.lead("pos").over(wd)
    contrib = F.when(
        F.col("_dup") == 1,
        F.least(F.coalesce(nxt - F.col("pos"), F.lit(n)), F.lit(n))) \
        .otherwise(F.lit(0))
    return (flagged
            .withColumn("_cov", contrib)
            .groupBy("doc_id")
            .agg(F.max("n_words").cast("long").alias("n_words"),
                 F.count("*").cast("long").alias("n_grams"),
                 F.sum("_dup").cast("long").alias("n_dup_starts"),
                 F.sum("_cov").cast("long").alias("covered_words"),
                 (F.sum("_cov").cast("double")
                  / F.max("n_words").cast("double")).alias("dup_frac")))


def tile_dedup(df: DataFrame, n: int = 8, text_col: str = "text") -> DataFrame:
    """Global first-occurrence SPAN dedup with document reconstruction —
    the C4 "repeated three-sentence span" / Dolma paragraph-dedup rule
    (Raffel et al. 2020 §2.2; reference analog: none — the reference
    consumes pre-cleaned corpora). Prose pipelines split on newlines;
    this corpus is newline-free, so the span grain is the non-overlapping
    n-word TILE (tile i = words[i·n : i·n+n], ragged tail included).
    Every tile keeps only its globally FIRST occurrence — ordered by
    (doc_id, tile index), the same total order a sequential pass would
    visit — and each doc is reassembled from its surviving tiles.

    Scale shape (the text never rides a wide shuffle twice):
    1. tiles project to (doc_id, idx, tile) and the first-occurrence
       window partitions BY THE TILE STRING itself — exact equality, no
       hash-collision false merges; one content-keyed exchange, the same
       key a 100 TB run would hash-partition on;
    2. survivors reduce to (doc_id, sorted idx array) — a narrow
       int-only regroup;
    3. reconstruction re-slices each doc's own word array under the
       surviving-index filter via ONE equi-join on doc_id (docs whose
       every tile is a re-occurrence get keep=NULL → empty clean_text).

    Output: doc_id, clean_text (surviving tiles joined in order; '' when
    nothing survives), n_tiles, n_kept (long).
    """
    from pyspark.sql import Window

    if n < 1:
        raise ValueError("need n >= 1")
    words = df.select("doc_id", F.split(F.col(text_col), " ").alias("_w"))
    n_tiles = ((F.size("_w") + n - 1) / n).cast("long")
    tiles = (words
             .select("doc_id", n_tiles.alias("_nt"),
                     F.posexplode(F.transform(
                         F.sequence(F.lit(0), n_tiles - 1),
                         lambda i: F.array_join(
                             F.slice("_w", i * n + 1, n), " ")))
                     .alias("_idx", "_tile")))
    first = Window.partitionBy("_tile").orderBy("doc_id", "_idx")
    kept = (tiles
            .withColumn("_rn", F.row_number().over(first))
            .filter(F.col("_rn") == 1)
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list("_idx")).alias("_keep"),
                 F.count("*").cast("long").alias("n_kept")))
    return (words
            .join(kept, "doc_id", "left")
            .select("doc_id",
                    F.array_join(F.transform(
                        F.coalesce("_keep", F.array()),
                        lambda i: F.array_join(
                            F.slice("_w", i * n + 1, n), " ")), " ")
                    .alias("clean_text"),
                    n_tiles.alias("n_tiles"),
                    F.coalesce("n_kept", F.lit(0)).cast("long")
                    .alias("n_kept")))
