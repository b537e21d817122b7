"""Training-data pipeline operators beyond the SURVEY.md §2 inventory
(r3 extensions): context-window chunking, vocabulary building, PII
scrubbing, stratified sampling, and near-dup clustering.

These are the ops a 100 TB LLM data-prep job runs between the §2.11
text/dedup stages and the trainer: chunk documents to the model's
context window, build the tokenizer vocabulary, redact PII, draw
reproducible stratified samples, and collapse near-dup PAIRS into
connected-component clusters.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from deltasink_spark.operators.minhash import minhash_dedup_pairs, minhash_pairs_cached
from deltasink_spark.operators.text import normalize, quality_score, tokenize, word_ngrams
from deltasink_spark.registry import query
from deltasink_spark.tables import fanout, load

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


@query(
    "doc_chunking",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
               WHERE text IS NOT NULL),
    n AS (SELECT doc_id, toks,
                 GREATEST(1, CAST(CEIL((len(toks) - {CHUNK_TOKENS}) / {CHUNK_STRIDE}.0)
                                  AS BIGINT) + 1) AS n_chunks
          FROM t)
    SELECT doc_id,
           CAST(cid AS INT) AS chunk_id,
           len(toks[cid * {CHUNK_STRIDE} + 1 : cid * {CHUNK_STRIDE} + {CHUNK_TOKENS}])
             AS n_tokens,
           array_to_string(
             toks[cid * {CHUNK_STRIDE} + 1 : cid * {CHUNK_STRIDE} + {CHUNK_TOKENS}],
             ' ') AS chunk_text
    FROM n, UNNEST(range(0, n_chunks)) AS u(cid)
    """,
)
def doc_chunking(spark, sf_dir):
    """Split documents into overlapping fixed-size token windows — the
    context-window prep step before tokenization/packing. One row
    explodes into ceil((len-W)/S)+1 chunk rows (always >=1); narrow
    sequence+explode, no shuffle, so it streams at scan speed at any
    scale. W=64 tokens, stride 48 (16-token overlap)."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())  # NULL-text contract (r8 null audit): drop at ingest, mirrored in oracle
    toks = F.split(F.col("text"), " ")
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size(toks) - F.lit(CHUNK_TOKENS)) / F.lit(float(CHUNK_STRIDE))) + 1,
    )
    rows = d.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias("chunk_id"),
    )
    chunk = F.slice(
        F.col("toks"), F.col("chunk_id") * CHUNK_STRIDE + 1, CHUNK_TOKENS
    )
    return rows.select(
        "doc_id",
        "chunk_id",
        F.size(chunk).alias("n_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


@query(
    "tokenizer_vocab",
    oracle="""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    counts AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token HAVING COUNT(*) >= 5)
    SELECT rank, token, n FROM (
        SELECT token, n,
               ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank
        FROM counts
    ) WHERE rank <= 500
    """,
)
def tokenizer_vocab(spark, sf_dir):
    """Vocabulary building: token frequencies (one map-side-combined
    hash agg over the exploded corpus), min-count filter, top-K by
    (count DESC, token ASC — the deterministic tie-break). The top-500
    cut is a TakeOrderedAndProject (per-partition heaps — no task ever
    sorts the full vocabulary, which is millions of rows at 100 TB);
    the ranking window then runs over the 500-row frame only, the same
    shape as [text_zipf_slope]."""
    d = load(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
    )
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(500)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "token", "n")
    )


_PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PII_PHONE = "[0-9]{3}-[0-9]{2,}"


@query(
    "text_pii_scrub",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id,
               'contact user' || doc_id || '@example.com ph 555-01' ||
               (doc_id % 100) || ' ' || text AS raw
        FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS n_emails,
           len(regexp_extract_all(raw, '{_PII_PHONE}')) AS n_phones,
           regexp_replace(regexp_replace(raw, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                          '{_PII_PHONE}', '<PHONE>', 'g') AS scrubbed
    FROM aug
    """,
)
def text_pii_scrub(spark, sf_dir):
    """PII redaction: regexp scrub of emails/phone-shaped spans, with
    per-doc match counts for audit. The fixture corpus contains no PII,
    so a deterministic synthetic contact line is prepended first (both
    engines identically) — the redaction path is then value-verified
    rather than vacuously green. Pure codegen regexp, no shuffle."""
    d = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ph 555-01"),
        (F.col("doc_id") % 100).cast("string"),
        F.lit(" "),
        F.col("text"),
    )
    aug = d.select("doc_id", raw.alias("raw"))
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("raw", F.lit(_PII_EMAIL), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all("raw", F.lit(_PII_PHONE), F.lit(0))).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("raw", _PII_EMAIL, "<EMAIL>"), _PII_PHONE, "<PHONE>"
        ).alias("scrubbed"),
    )


# Per-stratum keep-rates (percent): the high-value stratum is kept
# whole, the bulk stratum is downsampled hard.
_STRATA_PCT = {"purchase": 100, "click": 20, "error": 50}
_DEFAULT_PCT = 10


@query(
    "sample_stratified",
    oracle=f"""
    SELECT event_id, event_type
    FROM events
    WHERE CAST(CONCAT('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 100
          < CASE event_type
              WHEN 'purchase' THEN {_STRATA_PCT["purchase"]}
              WHEN 'click' THEN {_STRATA_PCT["click"]}
              WHEN 'error' THEN {_STRATA_PCT["error"]}
              ELSE {_DEFAULT_PCT} END
    """,
)
def sample_stratified(spark, sf_dir):
    """Stratified sampling with per-stratum rates, driven by the same
    deterministic md5-bucket as sample_frac: reproducible across
    engines, runs, and repartitions (rebalancing class distributions
    for training without a seed-dependence on partitioning). Pure
    filter — no shuffle, no rng state."""
    ev = load(spark, sf_dir, "events")
    bucket = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    rate = F.when(F.col("event_type") == "purchase", _STRATA_PCT["purchase"])
    for k, v in list(_STRATA_PCT.items())[1:]:
        rate = rate.when(F.col("event_type") == k, v)
    rate = rate.otherwise(_DEFAULT_PCT)
    return ev.filter(bucket < rate).select("event_id", "event_type")


# Near-dup pairs chain reused from dedup_minhash_lsh's oracle: trigram
# shingles -> shared-shingle intersections -> exact Jaccard >= 0.6.
_PAIRS_CTE = """
    t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(range(1, GREATEST(len(toks) - 1, 1)),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
           FROM t),
    sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    pairs AS (
        SELECT id_a, id_b
        FROM inter JOIN sz x ON x.doc_id = id_a JOIN sz y ON y.doc_id = id_b
        WHERE n_inter * 1.0 / (x.n_sh + y.n_sh - n_inter) >= 0.6)
"""


@query(
    "dedup_cluster",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTE},
    e AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    reach(u, v) AS (
        SELECT u, v FROM e
        UNION
        SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
    comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
             FROM reach GROUP BY u)
    SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
)
def dedup_cluster(spark, sf_dir):
    """Connected components over the MinHash near-dup pair graph:
    every doc gets cluster_id = min doc_id reachable through
    Jaccard>=0.6 edges (singletons cluster to themselves) — the step
    that turns pairwise near-dup hits into keep-one-per-cluster
    decisions (pair-based keep-first can drop extra docs on chains
    a-b, b-c).

    Spark side: alternating large-star/small-star rounds (Kiveris et
    al. 2014) — each round is two self-equi-join + hash-agg passes
    over the edge list, and the edge set contracts to component stars
    in O(log n) rounds even on pathological chains (near-dup
    components are tiny, so 2-3 here). Rounds are localCheckpoint'd to
    keep lineage flat; the per-round driver-side convergence count is
    a scalar, not a collect of data.
    Oracle: DuckDB recursive reachability closure + min per node."""
    d = load(spark, sf_dir, "documents")
    pairs = minhash_pairs_cached(spark, sf_dir)
    clustered = min_label_components(pairs)
    return (
        d.select("doc_id")
        .join(clustered, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id")
        )
    )


def min_label_components(pairs, stats: dict | None = None):
    """Connected components of an undirected pair graph via alternating
    large-star / small-star rounds (Kiveris et al. 2014, "Connected
    Components in MapReduce and Beyond"). Returns (doc_id, cluster_id)
    for nodes that HAVE edges — callers treat absent nodes as
    singletons.

    Each round is two self-equi-join + hash-agg passes over the edge
    list — the same shuffle shape as plain min-label propagation, but
    the edge set contracts toward stars in O(log n) rounds even on
    pathological chains, instead of O(diameter). Rounds are
    localCheckpoint'd to keep lineage flat; the per-round convergence
    check is a scalar count, never a collect of data."""
    # EAGER checkpoint: the incoming pair plan may itself contain a
    # union (capped-LSH star pairs); stacking the star rounds' own
    # unions on top of it trips Spark 4.1's PruneFilters on a
    # filter-over-nested-union ("key not found: u#..."), and lineage
    # must be cut here anyway before the O(log n) iteration.
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def fresh(e):
        # projection with NEW exprIds for every column: union children
        # that share attribute ids (both derived from the same
        # checkpointed edge list) trip Spark 4.1's constraint rewrite
        # inside PruneFilters with "key not found: u#..." when the
        # inputs are non-nullable (nullable parquet lineage never hits
        # it). An Alias always mints a fresh id, so this one zero-cost
        # projection per union side sidesteps the bug for any caller.
        return e.select(F.col("u").alias("u"), F.col("v").alias("v"))

    def large_star(e):
        # Symmetric adjacency; every node links its LARGER neighbors to
        # the min of its closed neighborhood.
        adj = fresh(e).unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # the grouping key is referenced directly (not F.first("u")):
        # first() over a union-shaped child trips a Catalyst rewrite
        # ("key not found: u#...") on Spark 4.1 plans where the edge
        # list is itself a union (e.g. capped-LSH star pairs)
        mins = adj.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        # NO trailing distinct: the only consumer is small_star, whose
        # leading reorient + distinct dedups anyway — the extra shuffle
        # bought nothing (mins is 1 row per u, so the join cannot blow
        # up multiplicity beyond |adj|)
        return (
            adj.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

    def small_star_raw(e):
        # Orient each edge larger->smaller; every node links its
        # SMALLER neighbors (and itself) to the neighborhood min.
        # Returns the UN-deduped relink/self-link union: the trailing
        # distinct is fused into the round's convergence aggregation
        # below (r16) — both group by (u, v), so keeping them separate
        # paid one full extra exchange of the new edge set per round.
        ori = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = ori.groupBy("u").agg(F.min("v").alias("m"))
        relink = ori.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
        selfl = mins.select("u", F.col("m").alias("v"))
        return (
            fresh(relink).unionByName(fresh(selfl))
            .filter(F.col("u") != F.col("v"))
        )

    rounds = 0
    for _ in range(24):  # O(log n) bound; fixture graphs converge in 2-3
        rounds += 1
        # ONE (u, v) aggregation per round does double duty (r16,
        # guide §2.4 "two operations keyed the same way share one
        # exchange"): max-merging presence tags over
        # [new edges (n=1)] ∪ [old edges (o=1)] simultaneously
        # (a) deduplicates the raw small-star output — rows with n=1
        #     ARE small_star's old distinct() result — and
        # (b) decides convergence: both sides are sets, so the edge
        #     set is a fixed point iff no (u, v) group has n != o.
        # The former separate signed-union count paid a second full
        # exchange of the new edge set for the same information.
        merged = (
            small_star_raw(large_star(edges))
            .select("u", "v", F.lit(1).alias("n"), F.lit(0).alias("o"))
            .unionByName(
                fresh(edges).select("u", "v", F.lit(0).alias("n"), F.lit(1).alias("o"))
            )
            .groupBy("u", "v")
            .agg(F.max("n").alias("n"), F.max("o").alias("o"))
            .localCheckpoint(eager=False)
        )
        # limit(1): stop at the first differing pair. This action also
        # starts materializing the checkpoint, but CollectLimit scans
        # incrementally: an early hit may leave some of merged's
        # partitions to the next round's job, which computes them then.
        changed = (
            merged.filter(F.col("n") != F.col("o")).limit(1).count()
        )
        edges = merged.filter(F.col("n") == 1).select("u", "v")
        if changed == 0:
            break
    if stats is not None:  # test instrumentation (round-count bound)
        stats["rounds"] = rounds
    # In the star fixed point every non-center node has an edge to its
    # component min; centers label themselves.
    adj = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    return adj.groupBy("u").agg(
        F.least(F.min("v"), F.col("u")).alias("cluster_id")
    ).select(F.col("u").alias("doc_id"), "cluster_id")


SEQ_BUDGET = 256  # training-sequence token budget


@query(
    "seq_pack",
    oracle=f"""
    WITH t AS (SELECT source, doc_id,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
               FROM documents),
    c AS (SELECT source, doc_id, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
          FROM t)
    SELECT source, doc_id, n_tokens,
           CAST(FLOOR((cum - n_tokens) / {SEQ_BUDGET}.0) AS BIGINT) AS seq_id,
           CAST((cum - n_tokens) % {SEQ_BUDGET} AS BIGINT) AS seq_offset
    FROM c
    """,
)
def seq_pack(spark, sf_dir):
    """Concat-and-split sequence packing: documents are laid end-to-end
    in (source, doc_id) order and cut every SEQ_BUDGET tokens; each doc
    is assigned the training sequence its FIRST token lands in, plus
    its offset inside that sequence (the GPT-style packing bookkeeping
    a trainer's data loader consumes).

    Scale shape: the running total is a window cumsum PARTITIONED BY
    source — each source packs independently, so no global single-
    partition sort exists at any scale; sources parallelize across the
    cluster. Pure integer arithmetic, mirrored exactly in the oracle."""
    d = load(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = d.select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    ).withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")
    return t.select(
        "source",
        "doc_id",
        "n_tokens",
        F.floor(start / float(SEQ_BUDGET)).cast("long").alias("seq_id"),
        (start % SEQ_BUDGET).cast("long").alias("seq_offset"),
    )


_CONTAM_N = 5  # benchmark-overlap n-gram width
_EVAL_MOD = 37  # doc_id % 37 == 0 -> held-out "benchmark" split


@query(
    "contamination_check",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (SELECT DISTINCT doc_id,
                 unnest(list_transform(range(1, GREATEST(len(toks) - {_CONTAM_N - 2}, 1)),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                             toks[i+3] || ' ' || toks[i+4])) AS gram
          FROM t),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % {_EVAL_MOD} = 0),
    tr AS (SELECT doc_id, gram FROM g WHERE doc_id % {_EVAL_MOD} <> 0),
    tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM tr GROUP BY doc_id),
    hit AS (SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
            FROM tr JOIN ev USING (gram) GROUP BY tr.doc_id)
    SELECT tot.doc_id, n_grams, COALESCE(n_hits, 0) AS n_hits,
           ROUND(COALESCE(n_hits, 0) * 1.0 / n_grams, 6) AS contam_ratio,
           COALESCE(n_hits, 0) * 20 >= n_grams AS contaminated
    FROM tot LEFT JOIN hit USING (doc_id)
    """,
)
def contamination_check(spark, sf_dir):
    """Benchmark-decontamination sweep (GPT-3/PaLM style): flag training
    documents sharing 5-gram spans with a held-out eval split (here
    the deterministic doc_id % 37 == 0 docs stand in for the
    benchmark). Per train doc: distinct 5-grams, how many also occur
    anywhere in the eval split, and a >=5% overlap flag.

    Scale shape: the eval n-gram set is benchmark-sized (small by
    definition), so the membership probe is a BROADCAST semi-join
    against the exploded train grams — no shuffle of the 100 TB train
    side beyond its own per-doc count agg. The integer-ratio flag
    (n_hits*20 >= n_grams) avoids float-threshold edge divergence."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    # the fixture file is a single row group -> one scan task; spread
    # docs across cores BEFORE the tokenize+explode blow-up.
    g = (
        fanout(d.select("doc_id", "text"), "doc_id")
        .select("doc_id", F.explode(word_ngrams(toks, _CONTAM_N)).alias("gram"))
        .distinct()
        # three consumers (eval set, per-doc totals, hit probe):
        # materialize the exploded-distinct gram table once instead of
        # re-running tokenize+explode+distinct per consumer (measured
        # 3x at sf0.1 — same pattern as the minhash shingle table).
        .localCheckpoint(eager=False)
    )
    ev = g.filter(F.col("doc_id") % _EVAL_MOD == 0).select("gram").distinct()
    tr = g.filter(F.col("doc_id") % _EVAL_MOD != 0)
    tot = tr.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_grams"))
    hit = (
        tr.join(F.broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    j = tot.join(hit, "doc_id", "left").select(
        "doc_id", "n_grams", F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits")
    )
    return j.select(
        "doc_id",
        "n_grams",
        "n_hits",
        F.round(F.col("n_hits") / F.col("n_grams"), 6).alias("contam_ratio"),
        (F.col("n_hits") * 20 >= F.col("n_grams")).alias("contaminated"),
    )


@query(
    "data_mixture",
    oracle="""
    WITH g AS (SELECT source, lang,
                      CAST(COUNT(*) AS BIGINT) AS n_docs,
                      CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
               FROM documents GROUP BY source, lang)
    SELECT source, lang, n_docs, n_tokens,
           ROUND(n_tokens * 1.0 / SUM(n_tokens) OVER (), 8) AS token_share,
           ROUND(SUM(n_tokens) OVER () * 1.0
                 / (COUNT(*) OVER () * n_tokens), 6) AS mix_weight
    FROM g
    """,
)
def data_mixture(spark, sf_dir):
    """Training-mixture accounting: per (source, lang) domain, doc and
    token counts, the domain's share of all tokens, and the sampling
    weight that would rebalance the corpus to a UNIFORM target mixture
    (weight = target_share / actual_share — the number a weighted
    sampler or epoch-repetition scheduler consumes).

    Scale shape: one map-side-combined hash agg over the corpus; the
    share/weight windows run over the DOMAIN-count-sized aggregate
    (~#sources x #langs rows), not the corpus, so the unpartitioned
    window is bounded at any scale."""
    d = load(spark, sf_dir, "documents")
    g = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy()
    return g.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.sum("n_tokens").over(w), 8).alias("token_share"),
        F.round(
            F.sum("n_tokens").over(w) / (F.count(F.lit(1)).over(w) * F.col("n_tokens")), 6
        ).alias("mix_weight"),
    )


@query(
    "repetition_filter",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    wrd AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
                   CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
            FROM t),
    bg AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(toks)),
                         i -> toks[i] || ' ' || toks[i+1])) AS gram
           FROM t),
    bgc AS (SELECT doc_id, gram, COUNT(*) AS c FROM bg GROUP BY doc_id, gram),
    bga AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
                   CAST(MAX(c) AS BIGINT) AS top_bigram
            FROM bgc GROUP BY doc_id)
    SELECT w.doc_id,
           ROUND(1.0 - n_distinct * 1.0 / n_words, 6) AS dup_word_frac,
           ROUND(top_bigram * 1.0 / n_bigrams, 6) AS top_bigram_frac,
           (n_words - n_distinct) * 2 > n_words OR top_bigram * 10 > n_bigrams
             AS flagged
    FROM wrd w JOIN bga USING (doc_id)
    """,
)
def repetition_filter(spark, sf_dir):
    """Gopher-style repetition filters: per doc, the duplicate-word
    fraction (1 - distinct/total) and the share of the most frequent
    bigram; docs failing either threshold (>50% dup words or one bigram
    >10% of all bigrams) are flagged as degenerate boilerplate.

    Scale shape: two explode->hash-agg passes (words; bigrams) joined
    on doc_id — all map-side combinable, no window over the corpus.
    Thresholds compare integers (x*2 > n) so the flag cannot diverge
    on float rounding between engines."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    t = d.select("doc_id", toks.alias("toks"))
    wrd = t.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_words"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
    )
    bgc = (
        t.select("doc_id", F.explode(word_ngrams(F.col("toks"), 2)).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bga = bgc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        F.max("c").cast("long").alias("top_bigram"),
    )
    return wrd.join(bga, "doc_id").select(
        "doc_id",
        F.round(F.lit(1.0) - F.col("n_distinct") / F.col("n_words"), 6).alias(
            "dup_word_frac"
        ),
        F.round(F.col("top_bigram") / F.col("n_bigrams"), 6).alias("top_bigram_frac"),
        (
            ((F.col("n_words") - F.col("n_distinct")) * 2 > F.col("n_words"))
            | (F.col("top_bigram") * 10 > F.col("n_bigrams"))
        ).alias("flagged"),
    )


def _training_prep_oracle() -> str:
    from deltasink_spark.queries.text import _NORM_SQL, _QUALITY_SQL

    return f"""
    WITH RECURSIVE
    t AS (SELECT doc_id, lang, source, text, {_NORM_SQL} AS norm FROM documents),
    s AS (SELECT doc_id, lang, source, norm, text,
                 string_split(norm, ' ') AS toks
          FROM t),
    f AS (SELECT doc_id, lang, source, norm, toks FROM (
             SELECT s.*, {_QUALITY_SQL} AS quality FROM s
          ) WHERE quality >= 0.5),
    sh AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(range(1, GREATEST(len(toks) - 1, 1)),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                    AS shingle
           FROM f),
    sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    prs AS (
        SELECT id_a, id_b
        FROM inter JOIN sz x ON x.doc_id = id_a JOIN sz y ON y.doc_id = id_b
        WHERE n_inter * 1.0 / (x.n_sh + y.n_sh - n_inter) >= 0.6),
    e AS (SELECT id_a AS u, id_b AS v FROM prs
          UNION SELECT id_b, id_a FROM prs),
    reach(u, v) AS (
        SELECT u, v FROM e
        UNION
        SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
    comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
             FROM reach GROUP BY u),
    kept AS (SELECT f.* FROM f LEFT JOIN comp c USING (doc_id)
             WHERE COALESCE(c.cluster_id, f.doc_id) = f.doc_id),
    n AS (SELECT doc_id, lang, source, toks,
                 GREATEST(1, CAST(CEIL((len(toks) - {CHUNK_TOKENS})
                                       / {CHUNK_STRIDE}.0) AS BIGINT) + 1)
                   AS n_chunks
          FROM kept),
    ch AS (SELECT source, lang, doc_id, CAST(cid AS INT) AS chunk_id,
                  CAST(len(toks[cid * {CHUNK_STRIDE} + 1 :
                             cid * {CHUNK_STRIDE} + {CHUNK_TOKENS}]) AS BIGINT)
                    AS n_tokens
           FROM n, UNNEST(range(0, n_chunks)) AS u(cid)),
    pk AS (SELECT source, lang, doc_id, chunk_id, n_tokens,
                  SUM(n_tokens) OVER (PARTITION BY source
                                      ORDER BY doc_id, chunk_id
                                      ROWS UNBOUNDED PRECEDING) AS cum
           FROM ch)
    SELECT source, lang,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT CAST(FLOOR((cum - n_tokens) / {SEQ_BUDGET}.0)
                                    AS BIGINT)) AS BIGINT) AS n_seqs
    FROM pk GROUP BY source, lang
    """


@query("pipeline_training_prep", oracle=_training_prep_oracle())
def pipeline_training_prep(spark, sf_dir):
    """The round's flagship composition: the §2.14 training-data layer
    run END TO END — quality filter -> MinHash near-dup pairs ->
    connected-component clustering (keep the min-id doc per cluster,
    which survives chains a-b-c that pairwise keep-first policies
    over-delete) -> context-window chunking -> per-source sequence
    packing -> per-(source, lang) corpus summary with doc/chunk/token/
    sequence counts. Proves the new stages COMPOSE the way a real
    100 TB prep job runs them, exactly as pipeline_llm_prep does for
    the §2.11 layer.

    Scale notes: the quality-filtered frame is localCheckpoint'd once
    and feeds three consumers (pair generation, keep-join, chunking);
    every candidate stage is an equi-join (LSH bands, cluster ids,
    hour buckets of the packing cumsum are per-source windows). The
    oracle replays everything — including the recursive component
    closure — in one DuckDB statement."""
    d = load(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    scored = d.select(
        "doc_id",
        "lang",
        "source",
        normalize(F.col("text")).alias("norm"),
        toks.alias("toks"),
        F.round(quality_score(F.col("text"), toks), 4).alias("quality"),
    )
    filt = scored.filter(F.col("quality") >= 0.5).localCheckpoint(eager=False)
    pairs = minhash_dedup_pairs(
        filt.select("doc_id", "norm"), "doc_id", "norm", n=3, threshold=0.6
    )
    comp = min_label_components(pairs)
    kept = filt.join(comp, "doc_id", "left").filter(
        F.coalesce(F.col("cluster_id"), F.col("doc_id")) == F.col("doc_id")
    )
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size("toks") - F.lit(CHUNK_TOKENS)) / F.lit(float(CHUNK_STRIDE))) + 1,
    )
    rows = kept.select(
        "source",
        "lang",
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias("chunk_id"),
    )
    chunk = F.slice(F.col("toks"), F.col("chunk_id") * CHUNK_STRIDE + 1, CHUNK_TOKENS)
    ch = rows.select(
        "source", "lang", "doc_id", "chunk_id", F.size(chunk).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pk = ch.withColumn("cum", F.sum("n_tokens").over(w))
    seq_id = F.floor((F.col("cum") - F.col("n_tokens")) / float(SEQ_BUDGET)).cast("long")
    return pk.groupBy("source", "lang").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.countDistinct(seq_id).cast("long").alias("n_seqs"),
    )


_PARA_W = 8  # words per block: stands in for a paragraph on the fixture


@query(
    "dedup_paragraph",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    n AS (SELECT doc_id, toks,
                 CAST(CEIL(len(toks) / {_PARA_W}.0) AS BIGINT) AS nb
          FROM t),
    seg AS (SELECT doc_id, u.i AS pos,
                   array_to_string(toks[u.i * {_PARA_W} + 1 : u.i * {_PARA_W} + {_PARA_W}], ' ') AS seg
            FROM n, UNNEST(range(0, nb)) AS u(i)),
    keeper AS (SELECT seg,
                      MIN(struct_pack(doc_id := doc_id, pos := pos)) AS k
               FROM seg GROUP BY seg),
    kept AS (SELECT s.doc_id, s.pos, s.seg
             FROM seg s JOIN keeper x
               ON s.seg = x.seg AND s.doc_id = x.k.doc_id AND s.pos = x.k.pos),
    agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                   string_agg(seg, ' ' ORDER BY pos) AS clean_text
            FROM kept GROUP BY doc_id)
    SELECT n.doc_id, n.nb AS n_blocks,
           COALESCE(agg.n_kept, 0) AS n_kept,
           COALESCE(agg.clean_text, '') AS clean_text
    FROM n LEFT JOIN agg USING (doc_id)
    """,
)
def dedup_paragraph(spark, sf_dir):
    """Cross-corpus paragraph-level dedup — the CC-pipeline pass that
    removes REPEATED PARAGRAPHS (boilerplate, licenses, navigation)
    across documents while keeping each document's first occurrence,
    then reassembles the cleaned text in order. On the synthetic
    fixture a "paragraph" is a fixed 8-word block.

    Scale shape (the part that matters at 100 TB): first-occurrence
    selection is a hash AGGREGATION — MIN(struct(doc_id, pos)) per
    paragraph — followed by an equi-join back on the paragraph text,
    NOT a row_number window over a global sort: the agg combines
    map-side, so a paragraph repeated 10^6 times costs one partial per
    partition instead of a 10^6-row sorted partition (the skew shape
    boilerplate always produces). Reassembly is the standard
    array_sort(collect_list(struct(pos, seg))) trick — shuffle-once,
    order restored without a sorted shuffle. Documents whose every
    paragraph was seen earlier survive with empty clean_text via the
    left join from the doc spine."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return paragraph_dedup_frame(docs)


def paragraph_dedup_frame(docs):
    """Core of dedup_paragraph over any (doc_id, text) frame — also the
    paragraph stage of pipeline_web_prep. First occurrence is relative
    to the frame passed in (a filtered corpus dedups among itself)."""
    toks = F.split(F.col("text"), " ")
    n = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.ceil(F.size(toks) / float(_PARA_W)).cast("long").alias("nb"),
    )
    seg = fanout(n).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (F.col("nb") - 1).cast("int")),
                lambda i: F.array_join(F.slice(F.col("toks"), i * _PARA_W + 1, _PARA_W), " "),
            )
        ).alias("pos", "seg"),
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "seg")
    keeper = seg.groupBy("seg").agg(F.min(F.struct("doc_id", "pos")).alias("k"))
    kept = (
        seg.join(keeper, "seg")
        .filter((F.col("doc_id") == F.col("k.doc_id")) & (F.col("pos") == F.col("k.pos")))
        .select("doc_id", "pos", "seg")
    )
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        n.select("doc_id", F.col("nb").alias("n_blocks"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_blocks",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )



# Shared 80/10/10 split rule: ONE definition feeds dataset_split,
# pipeline_web_prep, and both oracles — the split thresholds and the
# portable md5 bucket must never be edited in one place only.
_SPLIT_TRAIN_PCT = 80
_SPLIT_VAL_PCT = 90  # upper bound of validation bucket range


def _split_bucket_expr(id_col: str):
    return (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )


def _split_expr(id_col: str):
    b = _split_bucket_expr(id_col)
    return (
        F.when(b < _SPLIT_TRAIN_PCT, "train")
        .when(b < _SPLIT_VAL_PCT, "validation")
        .otherwise("test")
    )


def _split_sql(id_expr: str) -> str:
    bucket = (
        f"CAST(CONCAT('0x', substr(md5(CAST({id_expr} AS VARCHAR)), 1, 8)) "
        f"AS BIGINT) % 100"
    )
    return (
        f"CASE WHEN {bucket} < {_SPLIT_TRAIN_PCT} THEN 'train' "
        f"WHEN {bucket} < {_SPLIT_VAL_PCT} THEN 'validation' "
        f"ELSE 'test' END"
    )


@query(
    "dataset_split",
    oracle=f"""
    SELECT source,
           {_split_sql('doc_id')} AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
    FROM documents GROUP BY 1, 2
    """,
)
def dataset_split(spark, sf_dir):
    """Deterministic train/validation/test assignment — the canonical
    80/10/10 split every training pipeline makes, driven by the same
    portable md5-bucket as sample_frac/sample_stratified rather than a
    seeded rng: the split a document lands in depends only on its id,
    never on partitioning, row order, cluster size, or Spark version,
    so reshuffling 100 TB or re-running next year yields the identical
    split (and the DuckDB oracle replays it exactly). Assignment is a
    pure projection; the per-(source, split) accounting is one hash
    agg."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", "source", _split_expr("doc_id").alias("split"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


def _web_prep_oracle() -> str:
    from deltasink_spark.queries.trainprep import _SPAN_G

    split_case = _split_sql("kd.doc_id")
    return f"""
    WITH t AS (SELECT doc_id, source, text, string_split(text, ' ') AS toks
               FROM documents),
    n0 AS (SELECT doc_id, toks, len(toks) AS nt FROM t),
    g AS (SELECT doc_id, u.i AS pos,
                 array_to_string(toks[u.i + 1 : u.i + {_SPAN_G}], ' ') AS gram
          FROM n0, UNNEST(range(0, GREATEST(nt - {_SPAN_G} + 1, 0))) AS u(i)),
    f AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
    d AS (SELECT g.doc_id, g.pos FROM g JOIN f USING (gram)),
    isl AS (SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER w IS NULL
                          OR pos - lag(pos) OVER w > {_SPAN_G}
                        THEN 1 ELSE 0 END AS ns
            FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    iid AS (SELECT doc_id, pos,
                   SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS island
            FROM isl),
    sp AS (SELECT doc_id, island, MIN(pos) AS p0, MAX(pos) AS p1
           FROM iid GROUP BY doc_id, island),
    sagg AS (SELECT doc_id, CAST(SUM(p1 - p0 + {_SPAN_G}) AS BIGINT) AS dup_tokens
             FROM sp GROUP BY doc_id),
    frac AS (SELECT n0.doc_id,
                    ROUND(COALESCE(sagg.dup_tokens, 0) / CAST(nt AS DOUBLE), 6)
                      AS dup_frac
             FROM n0 LEFT JOIN sagg USING (doc_id)),
    kd AS (SELECT t.doc_id, t.source, t.text FROM t
           JOIN frac USING (doc_id) WHERE dup_frac <= 0.5),
    kt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM kd),
    pn AS (SELECT doc_id, toks,
                  CAST(CEIL(len(toks) / {_PARA_W}.0) AS BIGINT) AS nb
           FROM kt),
    pseg AS (SELECT doc_id, u.i AS pos,
                    array_to_string(toks[u.i * {_PARA_W} + 1 : u.i * {_PARA_W} + {_PARA_W}], ' ')
                      AS seg
             FROM pn, UNNEST(range(0, nb)) AS u(i)),
    keeper AS (SELECT seg, MIN(struct_pack(doc_id := doc_id, pos := pos)) AS k
               FROM pseg GROUP BY seg),
    pkept AS (SELECT s.doc_id, s.pos, s.seg
              FROM pseg s JOIN keeper x
                ON s.seg = x.seg AND s.doc_id = x.k.doc_id AND s.pos = x.k.pos),
    pagg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                    string_agg(seg, ' ' ORDER BY pos) AS clean_text
             FROM pkept GROUP BY doc_id),
    para AS (SELECT pn.doc_id,
                    COALESCE(pagg.n_kept, 0) AS n_kept,
                    COALESCE(pagg.clean_text, '') AS clean_text
             FROM pn LEFT JOIN pagg USING (doc_id))
    SELECT kd.source,
           {split_case} AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(para.n_kept) AS BIGINT) AS kept_paragraphs,
           CAST(SUM(len(para.clean_text)) AS BIGINT) AS clean_chars
    FROM kd JOIN para USING (doc_id)
    GROUP BY 1, 2
    """


@query("pipeline_web_prep", oracle=_web_prep_oracle())
def pipeline_web_prep(spark, sf_dir):
    """End-to-end web-corpus preparation composite — the r5 dedup
    stages chained the way a CC-style pipeline runs them:

    1. duplicated-substring marking (substring_span_frame) and a
       dup_frac <= 0.5 document filter (drop mostly-duplicated docs);
    2. cross-corpus paragraph dedup over the SURVIVING corpus
       (paragraph_dedup_frame — first-occurrence is computed among
       kept docs, as a staged pipeline would see it);
    3. deterministic md5-bucket train/validation/test assignment;
    4. per-(source, split) accounting: docs, kept paragraphs,
       cleaned characters.

    Scale notes: the filtered doc set feeds two downstream consumers
    (paragraph dedup + the final join), so it is localCheckpoint'd to
    keep the expensive span stage from recomputing per consumer; every
    stage is the same hash-agg/semi-join algebra as its standalone op;
    the only new shuffles are the final doc-id join and the 6-row
    summary agg."""
    from deltasink_spark.queries.trainprep import substring_span_frame

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    spans = substring_span_frame(docs.select("doc_id", "text")).select(
        "doc_id", "dup_frac"
    )
    kept = (
        docs.join(spans, "doc_id")
        .filter(F.col("dup_frac") <= 0.5)
        .select("doc_id", "source", "text")
        .localCheckpoint(eager=False)
    )
    paras = paragraph_dedup_frame(kept.select("doc_id", "text"))
    return (
        kept.select("doc_id", "source", _split_expr("doc_id").alias("split"))
        .join(paras.select("doc_id", "n_kept", "clean_text"), "doc_id")
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_kept").cast("long").alias("kept_paragraphs"),
            F.sum(F.length("clean_text")).cast("long").alias("clean_chars"),
        )
    )


_C4_W = 8  # words per pseudo-line on the synthetic corpus
_C4_STOPS = ("the", "a", "of", "to", "and", "in")
_C4_STOPS_SQL = ", ".join(f"'{s}'" for s in _C4_STOPS)
_C4_RULE_SQL = (
    "len(string_split(b, ' ')) >= 5 "
    f"AND len(list_filter(string_split(b, ' '), w -> w IN ({_C4_STOPS_SQL}))) >= 1 "
    "AND len(list_distinct(string_split(b, ' '))) >= 5"
)


@query(
    "text_c4_clean",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
               WHERE text IS NOT NULL),
    n AS (SELECT doc_id, toks,
                 CAST(CEIL(len(toks) / {_C4_W}.0) AS BIGINT) AS nb
          FROM t),
    seg AS (SELECT doc_id, nb, u.i AS pos,
                   array_to_string(
                       toks[u.i * {_C4_W} + 1 : u.i * {_C4_W} + {_C4_W}], ' ') AS b
            FROM n, UNNEST(range(0, nb)) AS u(i)),
    k AS (SELECT doc_id, nb, pos, b, ({_C4_RULE_SQL}) AS keep FROM seg)
    SELECT doc_id, CAST(ANY_VALUE(nb) AS BIGINT) AS n_blocks,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN keep THEN b END, ' ' ORDER BY pos), '')
             AS clean_text
    FROM k GROUP BY doc_id
    """,
)
def text_c4_clean(spark, sf_dir):
    """C4-style per-document line cleaning (Raffel et al. 2020 §2.2
    adapted to the synthetic corpus): the text is split into fixed
    8-word pseudo-lines (the corpus has no newlines/punctuation) and a
    line survives only if it has >= 5 words, >= 1 stop word, and >= 5
    distinct words; survivors are rejoined in order.

    Scale shape — the best possible: the ENTIRE op is whole-stage-
    codegen higher-order functions (transform/filter/array_join) on
    the token array. Zero shuffles, zero explodes, zero joins; a
    100 TB corpus cleans at scan speed with perfect partition
    parallelism. (Contrast dedup_paragraph, which must shuffle because
    its keep-decision is cross-document.)"""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())  # NULL-text contract (r8 null audit): drop at ingest, mirrored in oracle
        .select("doc_id", "text")
    )
    toks = F.split(F.col("text"), " ")
    stops = F.array(*[F.lit(s) for s in _C4_STOPS])

    def rule(b):
        ws = F.split(b, " ")
        return (
            (F.size(ws) >= 5)
            & F.exists(ws, lambda w: F.array_contains(stops, w))
            & (F.size(F.array_distinct(ws)) >= 5)
        )

    n = d.select(
        "doc_id",
        toks.alias("toks"),
        F.ceil(F.size(toks) / float(_C4_W)).cast("long").alias("n_blocks"),
    )
    blocks = F.transform(
        F.sequence(F.lit(0), (F.col("n_blocks") - 1).cast("int")),
        lambda i: F.array_join(F.slice(F.col("toks"), i * _C4_W + 1, _C4_W), " "),
    )
    k = n.select("doc_id", "n_blocks", F.filter(blocks, rule).alias("kept"))
    return k.select(
        "doc_id",
        "n_blocks",
        F.size("kept").cast("bigint").alias("n_kept"),
        F.array_join("kept", " ").alias("clean_text"),
    )


@query(
    "dedup_apply_keep_best",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTE},
    e AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    reach(u, v) AS (
        SELECT u, v FROM e
        UNION
        SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
    comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
             FROM reach GROUP BY u),
    fl AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
                  d.n_chars
           FROM documents d LEFT JOIN comp c USING (doc_id)),
    keeper AS (SELECT cluster_id,
                      MAX(struct_pack(n := n_chars, negid := -doc_id)) AS k
               FROM fl GROUP BY cluster_id)
    SELECT f.doc_id, f.cluster_id, (f.doc_id = -(k.k.negid)) AS kept
    FROM fl f JOIN keeper k USING (cluster_id)
    """,
)
def dedup_apply_keep_best(spark, sf_dir):
    """The APPLY step of near-dup dedup: collapse MinHash near-dup
    clusters (connected components, as dedup_cluster) to ONE kept
    document each — keep-longest with a deterministic doc_id
    tie-break, the common web-corpus keeper policy. Emits every doc
    with its cluster and kept flag, so the cleaned corpus is
    `WHERE kept` and the audit trail is the rest.

    Scale shape: keeper selection is a hash AGGREGATION —
    MAX(struct(n_chars, -doc_id)) per cluster, map-side combinable —
    never a per-cluster row_number window (boilerplate mega-clusters
    would serialize a sorted partition); the flag rejoin is an
    equi-join on cluster_id."""
    d = load(spark, sf_dir, "documents")
    pairs = minhash_pairs_cached(spark, sf_dir)
    clustered = min_label_components(pairs)
    full = (
        d.select("doc_id", "n_chars")
        .join(clustered, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
            "n_chars",
        )
        .localCheckpoint(eager=False)  # feeds keeper agg AND the rejoin
    )
    keeper = full.groupBy("cluster_id").agg(
        F.max(F.struct(F.col("n_chars").alias("n"), (-F.col("doc_id")).alias("negid"))).alias("k")
    )
    return full.join(keeper, "cluster_id").select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == -F.col("k.negid")).alias("kept"),
    )


@query(
    "sample_stratified_neyman",
    oracle="""
    WITH d AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS y
               FROM documents),
    m AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS nh,
               SUM(CAST(y AS DECIMAL(38,0))) AS sh,
               SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS qh
        FROM d GROUP BY source),
    w AS (
        SELECT source, nh,
               CAST(ROUND(nh * SQRT(CAST(nh * qh - sh * sh AS DOUBLE)
                                    / nh / (nh - 1)), 6)
                    AS DECIMAL(38,6)) AS term
        FROM m),
    tot AS (SELECT SUM(term) AS tot FROM w),
    alloc AS (
        SELECT source, nh,
               LEAST(nh, CAST(ROUND(100 * CAST(term AS DOUBLE)
                                    / CAST(tot AS DOUBLE)) AS BIGINT)) AS ah
        FROM w, tot),
    rk AS (
        SELECT d.doc_id, d.source, alloc.ah,
               ROW_NUMBER() OVER (PARTITION BY d.source
                   ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
        FROM d JOIN alloc USING (source))
    SELECT doc_id, source, ah AS stratum_alloc
    FROM rk WHERE rn <= ah
    ORDER BY doc_id
    """,
)
def sample_stratified_neyman(spark, sf_dir):
    """Neyman-allocation stratified sample: a 100-doc budget split
    across sources proportionally to N_h * S_h (stratum size times
    stddev of doc length) — the variance-optimal allocation for
    estimating corpus means, and the statistics-driven sibling of
    [sample_stratified] (equal-rate) and [sample_temperature]
    (power-law rates). Within each stratum the sample itself is the
    deterministic bottom-ah-by-md5 draw ([sample_bottom_k]'s idiom),
    so the selection survives reshuffles, re-runs, and engine changes.

    Determinism: stratum moments are exact (BIGINT/DECIMAL); S_h and
    the allocation are one IEEE tree each, the N_h*S_h terms rounded
    6dp and decimal-summed before the normalizing division; ranks
    order by (md5(doc_id), doc_id).

    Scale: one hash agg for moments (|strata| rows, broadcast back),
    one rank window PARTITIONED by stratum, one filter. The corpus is
    scanned twice (moments, draw) — the price of allocation depending
    on global stratum statistics."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("y")
    )
    dec = F.col("y").cast("decimal(38,0)")
    m = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("nh"),
        F.sum(dec).alias("sh"),
        F.sum(dec * dec).alias("qh"),
    )
    # Variance numerator n*q - s^2 stays EXACT decimal (>= 0 by
    # Cauchy-Schwarz), so the sqrt argument can never go fractionally
    # negative the way the float form q - (s/n)*s can on a
    # near-constant stratum (DuckDB SQRT(negative) raises; Spark
    # returns NaN — the oracle would crash instead of comparing).
    sdev = F.sqrt(
        (F.col("nh") * F.col("qh") - F.col("sh") * F.col("sh")).cast("double")
        / F.col("nh")
        / (F.col("nh") - 1)
    )
    w = m.select(
        "source",
        "nh",
        F.round(F.col("nh") * sdev, 6).cast("decimal(38,6)").alias("term"),
    )
    tot = w.groupBy().agg(F.sum("term").alias("tot"))
    alloc = (
        w.join(F.broadcast(tot))
        .select(
            "source",
            F.least(
                F.col("nh"),
                F.round(
                    100 * F.col("term").cast("double") / F.col("tot").cast("double")
                ).cast("long"),
            ).alias("ah"),
        )
    )
    wr = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    rk = d.join(F.broadcast(alloc), "source").withColumn(
        "rn", F.row_number().over(wr)
    )
    return (
        rk.filter(F.col("rn") <= F.col("ah"))
        .select("doc_id", "source", F.col("ah").alias("stratum_alloc"))
        .orderBy("doc_id")
    )


# dedup_rate_report embeds dedup_minhash_lsh's registered oracle
# verbatim (the rank_fusion_rrf pattern) — explicit import so the
# dependency does not rely on package import order.
from deltasink_spark.queries import dedup as _dedup  # noqa: E402,F401
from deltasink_spark.registry import ORACLES as _ORACLES  # noqa: E402


@query(
    "dedup_rate_report",
    oracle=f"""
    WITH RECURSIVE pr AS (
        SELECT id_a, id_b FROM ({_ORACLES["dedup_minhash_lsh"]}) t),
    ed AS (SELECT id_a AS a, id_b AS b FROM pr
           UNION ALL SELECT id_b, id_a FROM pr),
    nodes AS (SELECT DISTINCT a AS n FROM ed),
    r(n, lab) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT ed.b, r.lab FROM r JOIN ed ON ed.a = r.n
        WHERE r.lab < ed.b),
    comp AS (SELECT n AS doc_id, MIN(lab) AS cluster_id FROM r GROUP BY n),
    per_src AS (
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(comp.doc_id) AS BIGINT) AS n_flagged
        FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id
        GROUP BY d.source),
    roots AS (
        SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_clusters_rooted
        FROM (SELECT DISTINCT cluster_id FROM comp) c
        JOIN documents d ON d.doc_id = c.cluster_id
        GROUP BY d.source)
    SELECT per_src.source, per_src.n_docs, per_src.n_flagged,
           ROUND(CAST(per_src.n_flagged AS DOUBLE) / per_src.n_docs, 6)
             AS dup_rate,
           COALESCE(roots.n_clusters_rooted, 0) AS n_clusters_rooted
    FROM per_src LEFT JOIN roots USING (source)
    ORDER BY per_src.source
    """,
)
def dedup_rate_report(spark, sf_dir):
    """Corpus duplication report per source: how many documents sit in
    a near-duplicate cluster (MinHash-LSH pairs at the standard 0.6
    Jaccard threshold, clustered by the star-contraction engine), the
    resulting dup rate, and how many clusters are ROOTED in the source
    (root = the cluster's min doc id, so cross-source clusters are
    counted exactly once, at their root's source) — the curation
    health metric read before and after every dedup run.

    The oracle embeds dedup_minhash_lsh's registered oracle verbatim
    as the pair CTE (the [rank_fusion_rrf] pattern: the report can
    never drift from the dedup op it summarizes), then runs the same
    recursive downhill-label closure as [graph_components].

    Scale: the pair generation is the LSH equi-join machinery
    (bucketed, star-capped); clustering is O(log n) star rounds; the
    report itself is two hash aggs and broadcast-size joins."""
    d = load(spark, sf_dir, "documents")
    pairs = minhash_pairs_cached(spark, sf_dir)
    comp = min_label_components(pairs)
    per_src = (
        d.select("doc_id", "source")
        .join(comp.select("doc_id", "cluster_id"), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count(F.col("cluster_id")).cast("long").alias("n_flagged"),
        )
    )
    roots = (
        comp.select("cluster_id")
        .distinct()
        .join(
            d.select(F.col("doc_id").alias("cluster_id"), "source"), "cluster_id"
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters_rooted"))
    )
    return (
        per_src.join(F.broadcast(roots), "source", "left")
        .select(
            "source",
            "n_docs",
            "n_flagged",
            F.round(
                F.col("n_flagged").cast("double") / F.col("n_docs"), 6
            ).alias("dup_rate"),
            F.coalesce(F.col("n_clusters_rooted"), F.lit(0).cast("long")).alias(
                "n_clusters_rooted"
            ),
        )
        .orderBy("source")
    )
