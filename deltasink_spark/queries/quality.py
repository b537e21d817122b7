"""Engine maintenance & data-quality surface (r5).

Two operator families every production table pipeline runs besides
queries:

- ``table_stats``: ANALYZE-style column statistics (row/null counts,
  exact NDV, min/max) — the numbers a cost-based optimizer and a data
  catalog feed on. One scan, one hash agg, constant-size output.
- ``dq_checks``: declarative data-quality expectations (referential
  integrity, uniqueness, range, ordering invariants) evaluated into a
  violations report — the circuit-breaker stage in front of a sink.

Determinism: counts are BIGINT, min/max are taken over BIGINT/STRING
columns only (double/timestamp rendering differs between engines), so
every value is bit-stable at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from deltasink_spark.registry import query
from deltasink_spark.tables import load

_STAT_COLS = ["l_orderkey", "l_suppkey", "l_returnflag", "l_linestatus"]
_NUM_STAT_COLS = {"l_orderkey", "l_suppkey"}


@query(
    "table_stats",
    oracle=f"""
    WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem)
    {' UNION ALL '.join(
        f'''SELECT '{c}' AS col_name, a.n_rows,
               CAST(COUNT(*) FILTER (WHERE {c} IS NULL) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv,
               CAST(MIN({c}) AS VARCHAR) AS min_s,
               CAST(MAX({c}) AS VARCHAR) AS max_s
           FROM lineitem, a GROUP BY a.n_rows'''
        for c in _STAT_COLS
    )}
    """,
)
def table_stats(spark, sf_dir):
    """ANALYZE TABLE-style column statistics: per column, row count,
    null count, exact distinct count, and min/max — the inputs to
    cost-based join reordering, broadcast decisions, and catalog
    search.

    Plan shape (the part that matters): N exact count_distincts in a
    single agg make Catalyst plan an Expand that multiplies every row
    N-fold before the shuffle — the blow-up that cost agg_approx_
    distinct 4x in r1 (BASELINE.md) and cost this op 5.7 s in its
    first form. Instead the table is melted ONCE to (col_name, value)
    pairs and aggregated in two map-side-combinable phases: phase 1
    collapses to one row per (column, distinct value) — partition-
    local partials shrink to the local NDV before anything shuffles —
    and phase 2 reduces that NDV-sized frame to one row per column
    (ndv = non-null group count, n_rows/n_null from summed counts,
    typed min/max via the numeric companion field so BIGINT columns
    don't compare lexicographically). One scan, two bounded shuffles,
    no Expand."""
    li = load(spark, sf_dir, "lineitem")
    melted = li.select(
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(c).cast("string").alias("v_str"),
                        (
                            F.col(c).cast("long")
                            if c in _NUM_STAT_COLS
                            else F.lit(None).cast("long")
                        ).alias("v_num"),
                    )
                    for c in _STAT_COLS
                ]
            )
        ).alias("i", "s")
    ).select("s.col_name", "s.v_str", "s.v_num")
    per_value = melted.groupBy("col_name", "v_str").agg(
        F.count(F.lit(1)).alias("cnt"), F.first("v_num").alias("v_num")
    )
    numeric = F.col("col_name").isin(*sorted(_NUM_STAT_COLS))
    return (
        per_value.groupBy("col_name")
        .agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.sum(F.when(F.col("v_str").isNull(), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_null"),
            F.count(F.col("v_str")).alias("ndv"),
            F.min("v_num").alias("min_num"),
            F.max("v_num").alias("max_num"),
            F.min("v_str").alias("min_str"),
            F.max("v_str").alias("max_str"),
        )
        .select(
            "col_name",
            "n_rows",
            "n_null",
            "ndv",
            F.when(numeric, F.col("min_num").cast("string"))
            .otherwise(F.col("min_str"))
            .alias("min_s"),
            F.when(numeric, F.col("max_num").cast("string"))
            .otherwise(F.col("max_str"))
            .alias("max_s"),
        )
    )


@query(
    "dq_checks",
    oracle="""
    SELECT 'orders_custkey_fk' AS check_name,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_checked,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS n_violations
    UNION ALL
    SELECT 'lineitem_quantity_range',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
            WHERE l_quantity <= 0 OR l_quantity > 50)
    UNION ALL
    SELECT 'orders_orderkey_unique',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
           (SELECT CAST(COALESCE(SUM(ct - 1), 0) AS BIGINT)
            FROM (SELECT COUNT(*) AS ct FROM orders
                  GROUP BY o_orderkey HAVING COUNT(*) > 1))
    UNION ALL
    SELECT 'customer_name_not_null',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer),
           (SELECT CAST(COUNT(*) FILTER (WHERE c_name IS NULL) AS BIGINT)
            FROM customer)
    UNION ALL
    SELECT 'lineitem_ship_after_order',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            WHERE l.l_shipdate < o.o_orderdate)
    """,
)
def dq_checks(spark, sf_dir):
    """Declarative data-quality expectation suite evaluated into a
    violations report (check_name, n_checked, n_violations) — the
    gate a pipeline runs before committing a batch to its sink:

    - referential integrity orders.o_custkey -> customer (anti-join
      orphan count; the FK check a lakehouse can't enforce on write),
    - value-range invariant on l_quantity,
    - key uniqueness on o_orderkey (excess-row count),
    - non-null expectation on c_name,
    - cross-table ordering invariant ship >= order date.

    Scale shape: every check is a count aggregate — conditional counts
    are filter+count on a single scan; the FK check is a broadcast
    anti-join (customer keys projected to one column) feeding a
    count; uniqueness is a hash agg over the key. Each result is one
    row; the report is a 5-row union of scalars, so the only data
    moved is the counts themselves."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    lineitem = load(spark, sf_dir, "lineitem")

    # Each check is ONE conditional agg over ONE pass of its input
    # (r15, guide §2.3 "aggregate before you shuffle"): the original
    # two-frame form (count the table, count the violating filter/
    # anti-join, cross-join the scalars) scanned every checked input
    # twice and built the lineitem⋈orders join twice. n_checked and
    # n_violations now come out of the same combining agg; the FK
    # anti-join becomes a broadcast LEFT join against the (unique,
    # primary-key) parent keys + a null count — row-count preserving,
    # so the counts are value-identical.
    def one(name, df, viol):
        return df.agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.coalesce(F.sum(F.when(viol, 1).otherwise(0)), F.lit(0)).alias(
                "n_violations"
            ),
        ).select(F.lit(name).alias("check_name"), "n_checked", "n_violations")

    fk = one(
        "orders_custkey_fk",
        orders.join(
            F.broadcast(
                customer.select(F.col("c_custkey").alias("o_custkey")).withColumn(
                    "cust_hit", F.lit(1)
                )
            ),
            "o_custkey",
            "left",
        ),
        F.col("cust_hit").isNull(),
    )
    rng = one(
        "lineitem_quantity_range",
        lineitem,
        (F.col("l_quantity") <= 0) | (F.col("l_quantity") > 50),
    )
    uniq = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("ct"))
        .agg(
            # empty orders: the ungrouped SUM is NULL where a COUNT
            # would be 0 (the r8 global-agg-on-empty class) — coalesce
            F.coalesce(F.sum("ct"), F.lit(0).cast("long")).alias("n_checked"),
            F.coalesce(
                F.sum(F.when(F.col("ct") > 1, F.col("ct") - 1).otherwise(0)),
                F.lit(0),
            ).alias("n_violations"),
        )
        .select(
            F.lit("orders_orderkey_unique").alias("check_name"),
            "n_checked",
            "n_violations",
        )
    )
    nn = one("customer_name_not_null", customer, F.col("c_name").isNull())
    li_ord = lineitem.join(
        orders.select("o_orderkey", "o_orderdate"),
        lineitem["l_orderkey"] == orders["o_orderkey"],
    )
    order_inv = one(
        "lineitem_ship_after_order",
        li_ord,
        F.col("l_shipdate") < F.col("o_orderdate"),
    )
    return fk.unionAll(rng).unionAll(uniq).unionAll(nn).unionAll(order_inv)


_GOPHER_STOPS = ("the", "a", "of", "to", "and", "in")
_GOPHER_STOPS_SQL = ", ".join(f"'{s}'" for s in _GOPHER_STOPS)


@query(
    "quality_gopher",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
    m AS (SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_words,
                 ROUND(CAST(len(replace(text, ' ', '')) AS DOUBLE) / len(toks), 6) AS mean_wlen,
                 CAST(len(list_filter(toks, x -> x IN ({_GOPHER_STOPS_SQL}))) AS BIGINT) AS stop_cnt
          FROM t),
    w AS (SELECT doc_id, MAX(c) AS topc FROM (
              SELECT doc_id, u.w AS w, COUNT(*) AS c
              FROM t, UNNEST(toks) AS u(w) GROUP BY 1, 2)
          GROUP BY doc_id)
    SELECT m.doc_id, m.n_words, m.mean_wlen, m.stop_cnt,
           ROUND(CAST(w.topc AS DOUBLE) / m.n_words, 6) AS top_ratio,
           (m.n_words BETWEEN 30 AND 50000) AS pass_words,
           (m.mean_wlen BETWEEN 3 AND 10) AS pass_wlen,
           (m.stop_cnt >= 2) AS pass_stop,
           (ROUND(CAST(w.topc AS DOUBLE) / m.n_words, 6) <= 0.15) AS pass_rep,
           ((m.n_words BETWEEN 30 AND 50000) AND (m.mean_wlen BETWEEN 3 AND 10)
            AND (m.stop_cnt >= 2)
            AND (ROUND(CAST(w.topc AS DOUBLE) / m.n_words, 6) <= 0.15)) AS pass_all
    FROM m JOIN w ON m.doc_id = w.doc_id
    """,
)
def quality_gopher(spark, sf_dir):
    """Gopher-style document quality rules (Rae et al. 2021, table A1
    adapted to the synthetic corpus): word-count bounds, mean-word-
    length bounds, a minimum stop-word count, and a maximum top-word
    repetition ratio, emitted per document with the per-rule verdicts
    a filtering pipeline gates on.

    Scale shape: the scalar rules are pure whole-stage-codegen array
    algebra on the token array (no explode). Only the repetition rule
    needs per-(doc, word) counts — two map-side-combining hash aggs
    over one explode, the same bounded shape as text_tf; everything
    rejoins on doc_id equi-joins. No windows, no collects."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    stops = F.array(*[F.lit(s) for s in _GOPHER_STOPS])
    base = d.select(
        "doc_id",
        toks.alias("toks"),
        F.size(toks).cast("bigint").alias("n_words"),
        F.round(
            F.length(F.regexp_replace(F.col("text"), " ", "")).cast("double") / F.size(toks), 6
        ).alias("mean_wlen"),
        F.size(F.filter(toks, lambda t: F.array_contains(stops, t))).cast("bigint").alias(
            "stop_cnt"
        ),
    )
    topc = (
        d.select("doc_id", F.explode(toks).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("topc"))
    )
    j = base.join(topc, "doc_id")
    top_ratio = F.round(F.col("topc").cast("double") / F.col("n_words"), 6)
    pass_words = F.col("n_words").between(30, 50000)
    pass_wlen = F.col("mean_wlen").between(3, 10)
    pass_stop = F.col("stop_cnt") >= 2
    pass_rep = top_ratio <= 0.15
    return j.select(
        "doc_id",
        "n_words",
        "mean_wlen",
        "stop_cnt",
        top_ratio.alias("top_ratio"),
        pass_words.alias("pass_words"),
        pass_wlen.alias("pass_wlen"),
        pass_stop.alias("pass_stop"),
        pass_rep.alias("pass_rep"),
        (pass_words & pass_wlen & pass_stop & pass_rep).alias("pass_all"),
    )


# --- dq_drift_psi: distribution-drift monitor ----------------------------

_PSI_BINS = 10


@query(
    "dq_drift_psi",
    oracle=f"""
    WITH split AS (
        SELECT event_type, value,
               (event_id % 2 = 0) AS is_ref
        FROM events),
    rng AS (
        SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
        FROM split WHERE is_ref GROUP BY event_type),
    binned AS (
        SELECT s.event_type, s.is_ref,
               LEAST({_PSI_BINS - 1}, GREATEST(0, CAST(FLOOR(
                   (s.value - r.lo)
                   / (GREATEST(r.hi - r.lo, 1e-12) / {_PSI_BINS}.0)
               ) AS BIGINT))) AS bin
        FROM split s JOIN rng r USING (event_type)),
    cnt AS (
        SELECT event_type, bin,
               CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
               CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
        FROM binned GROUP BY event_type, bin),
    tot AS (
        SELECT event_type, SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur
        FROM cnt GROUP BY event_type),
    terms AS (
        SELECT c.event_type,
               CAST(ROUND(
                   ((c.n_ref + 0.5) / (t.t_ref + {_PSI_BINS * 0.5})
                    - (c.n_cur + 0.5) / (t.t_cur + {_PSI_BINS * 0.5}))
                   * LN(((c.n_ref + 0.5) / (t.t_ref + {_PSI_BINS * 0.5}))
                        / ((c.n_cur + 0.5) / (t.t_cur + {_PSI_BINS * 0.5}))),
                   6) AS DECIMAL(30,6)) AS term,
               t.t_ref, t.t_cur
        FROM cnt c JOIN tot t USING (event_type))
    SELECT event_type,
           CAST(SUM(term) AS DOUBLE) AS psi,
           CAST(ANY_VALUE(t_ref) AS BIGINT) AS n_ref,
           CAST(ANY_VALUE(t_cur) AS BIGINT) AS n_cur
    FROM terms GROUP BY event_type ORDER BY event_type
    """,
)
def dq_drift_psi(spark, sf_dir):
    """Population Stability Index drift monitor per series: split the
    events feed into a reference and a current population (even/odd
    event_id — the stand-in for yesterday-vs-today), bin `value` into
    {_PSI_BINS} equal-width bins over the REFERENCE range, and compute
    PSI = sum((p - q) * ln(p / q)) with add-0.5 smoothing — the
    standard feature-drift gate in front of a training pipeline
    (PSI > 0.2 = investigate, > 0.25 = block).

    Determinism: bin edges derive from exact MIN/MAX doubles with one
    IEEE division; per-bin PSI terms are IEEE-computed from exact
    integer counts, rounded to 6 dp BEFORE the exact decimal sum
    (the quality_ccnet_bins pattern), so partial-agg order cannot
    flip a ulp. Scale shape: two combining hash aggs over the feed +
    a {_PSI_BINS}-row-per-series broadcastable stats frame — scan
    -bound at 100 TB."""
    e = load(spark, sf_dir, "events").select(
        "event_type", "value", (F.col("event_id") % 2 == 0).alias("is_ref")
    )
    rng = (
        e.filter(F.col("is_ref"))
        .groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    )
    # Degenerate-range guard (r7 advisor): a constant reference series
    # would make hi == lo and the bin division 0/0 — clamp the range to
    # a tiny epsilon IDENTICALLY in both engines so the edge stays
    # oracle-exact (all values land in bin 0).
    width = F.greatest(F.col("hi") - F.col("lo"), F.lit(1e-12)) / float(_PSI_BINS)
    binned = e.join(F.broadcast(rng), "event_type").select(
        "event_type",
        "is_ref",
        F.least(
            F.lit(_PSI_BINS - 1),
            F.greatest(
                F.lit(0),
                F.floor((F.col("value") - F.col("lo")) / width).cast("bigint"),
            ),
        ).alias("bin"),
    )
    cnt = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).cast("bigint").alias("n_ref"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).cast("bigint").alias("n_cur"),
    )
    tot = cnt.groupBy("event_type").agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    sm = _PSI_BINS * 0.5
    p = (F.col("n_ref") + 0.5) / (F.col("t_ref") + sm)
    q_ = (F.col("n_cur") + 0.5) / (F.col("t_cur") + sm)
    terms = cnt.join(F.broadcast(tot), "event_type").select(
        "event_type",
        F.round((p - q_) * F.log(p / q_), 6).cast("decimal(30,6)").alias("term"),
        "t_ref",
        "t_cur",
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.sum("term").cast("double").alias("psi"),
            F.first("t_ref").cast("bigint").alias("n_ref"),
            F.first("t_cur").cast("bigint").alias("n_cur"),
        )
        .orderBy("event_type")
    )


# --- quality_classifier_score: model-based quality filter -----------------

_QC_DIM = 32
# "Pretrained" linear model over the 32-slot hashed-TF feature space of
# text_hashing_vectorizer (trainprep.py): weights are tenths in
# [-1.0, +1.0] stored as INTEGER w*10 so the dot product stays in exact
# BIGINT arithmetic end-to-end; bias -0.5 likewise as -5.
_QC_W10 = [((i * 37 + 11) % 21) - 10 for i in range(_QC_DIM)]
_QC_B10 = -5
_QC_W10_SQL = ", ".join(str(w) for w in _QC_W10)

# softsign score p = 0.5 + 0.5*z/(1+|z|), z = znum/10 — IEEE-exact in
# both engines (no transcendentals; see the score op's docstring)
_QC_SCORE_SQL = "0.5 + 0.5 * (znum / 10.0) / (1 + ABS(znum / 10.0))"


def _qc_zn_cte(carry: str) -> str:
    """Shared oracle CTEs (tok -> tb -> zn): per-token hash bucket and
    per-doc exact-integer logit numerator znum, carrying ``carry``
    (source for the score op, lang for the train op). SINGLE source of
    truth for the scoring algebra — the train op's docstring promises
    bit-identity with the score op, so the two must share this text."""
    return f"""
    tok AS (SELECT doc_id, {carry}, unnest(string_split(text, ' ')) AS tok
            FROM documents),
    tb AS (SELECT doc_id, {carry},
                  (CAST(CONCAT('0x', substr(md5(tok), 1, 8)) AS BIGINT)
                   % {_QC_DIM}) AS b
           FROM tok),
    zn AS (SELECT doc_id, {carry},
                  CAST(SUM(([{_QC_W10_SQL}])[b + 1]) AS BIGINT) + {_QC_B10} AS znum
           FROM tb GROUP BY doc_id, {carry})
"""


def _qc_bucketed_tokens(d, carry: str):
    """Spark mirror of the tok/tb CTEs: (doc_id, carry, b)."""
    return d.select(
        "doc_id", carry, F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).select(
        "doc_id",
        carry,
        F.expr(
            f"cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint) % {_QC_DIM}"
        ).alias("b"),
    )


def _qc_znum(tb, carry: str):
    """Spark mirror of the zn CTE: (doc_id, carry, znum) — one
    combining hash agg; carry rides as a grouping key (functionally
    dependent on doc_id) to keep the agg hash-based (first() would
    force a SortAggregate)."""
    w10_at_b = F.expr(f"element_at(array({_QC_W10_SQL}), cast(b + 1 as int))")
    return (
        tb.select("doc_id", carry, w10_at_b.alias("w10"))
        .groupBy("doc_id", carry)
        .agg((F.sum("w10").cast("bigint") + F.lit(_QC_B10)).alias("znum"))
    )


def _qc_softsign(z):
    return 0.5 + 0.5 * z / (1.0 + F.abs(z))


@query(
    "quality_classifier_score",
    oracle=f"""
    WITH {_qc_zn_cte("source")}
    SELECT doc_id, source,
           znum / 10.0 AS logit,
           {_QC_SCORE_SQL} AS score,
           CAST(CASE WHEN znum >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM zn ORDER BY doc_id
    """,
)
def quality_classifier_score(spark, sf_dir):
    """Model-based quality filtering — the CCNet/GPT-3-style classifier
    stage the rules-based quality family (quality_gopher, text_c4_clean,
    quality_ccnet_bins) feeds into: score every document with a linear
    model over the hashing-trick feature space of text_hashing_vectorizer
    (same md5-prefix % 32 bucket), squash to (0,1), threshold into
    keep/drop. The weight vector is a broadcast-sized constant (32
    slots at any corpus size; 2^20 slots in production — still KBs),
    so the whole op is scan + codegen map + ONE combining hash agg:
    scan-bound at 100 TB, no joins, no windows, no Python.

    Algebra: dot(w, tf_vector) == sum over tokens of w[bucket(token)],
    so the per-doc feature vector never materializes and the "dot
    product" is a per-token array-literal lookup summed map-side —
    cheaper than the F.aggregate HOF form, which Catalyst interprets
    rather than codegens. The tok->bucket->znum pipeline is shared
    with quality_classifier_train (_qc_bucketed_tokens/_qc_znum and
    the _qc_zn_cte oracle text), so the two halves cannot drift.

    Determinism: weights are tenths held as INTEGER w*10, so
    znum = sum(w10) + b10 is exact BIGINT; logit = znum/10.0 is one
    correctly-rounded IEEE division; the squash is softsign
    (0.5 + 0.5*z/(1+|z|)) — division/abs/add only, bit-identical in
    both engines, chosen over exp-sigmoid whose libm last-ulp can
    differ across engines. keep thresholds on the exact integer
    (znum >= 0 <=> score >= 0.5)."""
    d = load(spark, sf_dir, "documents")
    zn = _qc_znum(_qc_bucketed_tokens(d, "source"), "source")
    z = F.col("znum") / 10.0
    return zn.select(
        "doc_id",
        "source",
        z.alias("logit"),
        _qc_softsign(z).alias("score"),
        F.when(F.col("znum") >= 0, 1).otherwise(0).cast("bigint").alias("keep"),
    ).orderBy("doc_id")


# --- quality_classifier_train: one distributed gradient step --------------

# learning rate 0.001 expressed in the 1e-9 w_new units: the update
# term is lr * grad = 0.001 * (grad_u6 / 1e6) = grad_u6 * 1e-9, i.e.
# exactly grad_u6 of the 1e-9 units (a 100 here would mean lr = 0.1 —
# the r8 review catch).
_QCT_LR_U = 1
_QC_W10_ARR_SQL = f"[{_QC_W10_SQL}]"


@query(
    "quality_classifier_train",
    oracle=f"""
    WITH {_qc_zn_cte("lang")},
    res AS (SELECT doc_id,
                   CAST(ROUND(
                       (CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END)
                       - ({_QC_SCORE_SQL}),
                       6) AS DECIMAL(30,6)) AS r
            FROM zn),
    g AS (SELECT tb.b AS slot,
                 CAST(SUM(res.r) * 1000000 AS BIGINT) AS grad_u6
          FROM tb JOIN res USING (doc_id) GROUP BY tb.b)
    SELECT u.s AS slot,
           {_QC_W10_ARR_SQL}[u.s + 1] / 10.0 AS w_old,
           COALESCE(g.grad_u6, 0) / 1000000.0 AS grad,
           (CAST({_QC_W10_ARR_SQL}[u.s + 1] AS BIGINT) * 100000000
            + COALESCE(g.grad_u6, 0) * {_QCT_LR_U}) / 1000000000.0 AS w_new
    FROM UNNEST(range(0, {_QC_DIM})) AS u(s)
    LEFT JOIN g ON g.slot = u.s
    ORDER BY slot
    """,
)
def quality_classifier_train(spark, sf_dir):
    """The TRAIN half of the quality classifier — one full-batch
    gradient step of the linear model quality_classifier_score serves:
    residual = label - score per document (label: lang == 'en', the
    "good language" stand-in), gradient g_j = sum over documents of
    residual * tf_j computed at TOKEN grain (each token adds its doc's
    residual to its hash slot — the tf vector never materializes),
    w_new = w_old + 0.001 * g. The PLUS is the logistic-regression
    update direction: dLoss/dw_j = -(y - p) * x_j, so descending the
    loss ADDS lr * residual * x (equivalently, ascends the
    log-likelihood); r8's first cut subtracted and would have diverged
    (caught in review — the mirrored oracle is structurally blind to a
    shared sign error, which is exactly why the update algebra is
    spelled out here). This is distributed GD the way Spark should run
    it: the corpus is touched twice (scores, then the gradient
    scatter) with ONE combining hash agg each, the model update is a
    32-row frame, and a full training loop is this op iterated with
    broadcast weight refresh (the graph_pagerank / bpe_train
    checkpoint pattern).

    Determinism: scores/residuals are the bit-exact softsign algebra
    of the score op (shared _qc_znum/_qc_zn_cte pipeline); residuals
    round to 6 dp into DECIMAL before the exact sum (the dq_drift_psi
    pattern); the weight update runs in integer 1e-9 units
    (w10*1e8 + gradU6*1), so grad and w_new each emit through a single
    correctly-rounded IEEE division — identical in both engines."""
    d = load(spark, sf_dir, "documents")
    tb = _qc_bucketed_tokens(d, "lang").localCheckpoint(
        eager=False
    )  # feeds the score pass AND the gradient scatter
    zn = _qc_znum(tb, "lang")
    z = F.col("znum") / 10.0
    y = F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0))
    res = zn.select(
        "doc_id",
        F.round(y - _qc_softsign(z), 6).cast("decimal(30,6)").alias("r"),
    )
    g = (
        tb.join(res, "doc_id")
        .groupBy("b")
        .agg((F.sum("r") * 1000000).cast("bigint").alias("grad_u6"))
    )
    spine = spark.range(_QC_DIM).select(F.col("id").cast("long").alias("slot"))
    w10_at_slot = F.expr(f"element_at(array({_QC_W10_SQL}), cast(slot + 1 as int))")
    grad_u6 = F.coalesce(F.col("grad_u6"), F.lit(0).cast("long"))
    return (
        spine.join(g, spine.slot == g.b, "left")
        .select(
            "slot",
            (w10_at_slot / 10.0).alias("w_old"),
            (grad_u6 / 1000000.0).alias("grad"),
            (
                (
                    w10_at_slot.cast("bigint") * F.lit(100000000)
                    + grad_u6 * F.lit(_QCT_LR_U)
                )
                / 1000000000.0
            ).alias("w_new"),
        )
        .orderBy("slot")
    )


from pyspark.sql.window import Window  # noqa: E402  (MAD rank windows)


@query(
    "stats_mad_outliers",
    oracle="""
    WITH d AS (SELECT source, n_chars FROM documents),
    n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY source),
    r AS (
        SELECT d.source, d.n_chars, n.n,
               ROW_NUMBER() OVER (PARTITION BY d.source
                                  ORDER BY d.n_chars) AS rn
        FROM d JOIN n USING (source)),
    med AS (
        SELECT source, n, n_chars AS med
        FROM r WHERE rn = (n + 1) // 2),
    dev AS (
        SELECT d.source, ABS(d.n_chars - med.med) AS dv, med.med, med.n
        FROM d JOIN med USING (source)),
    r2 AS (
        SELECT source, dv, med, n,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY dv) AS rn
        FROM dev),
    mad AS (SELECT source, med, n, dv AS mad FROM r2 WHERE rn = (n + 1) // 2)
    SELECT dev.source,
           CAST(mad.n AS BIGINT) AS n,
           CAST(mad.med AS BIGINT) AS median_chars,
           CAST(mad.mad AS BIGINT) AS mad_chars,
           CAST(COUNT(*) FILTER (WHERE dev.dv > 3 * mad.mad) AS BIGINT)
             AS n_outliers
    FROM dev JOIN mad USING (source)
    GROUP BY dev.source, mad.n, mad.med, mad.mad
    ORDER BY dev.source
    """,
)
def stats_mad_outliers(spark, sf_dir):
    """Robust per-source length-outlier detection: median + MAD
    (median absolute deviation) of document length, flagging docs with
    |len - median| > 3*MAD — the outlier rule quality pipelines use
    where mean/stddev would be dragged by the very outliers they hunt.
    Emits per source: n, median, MAD, outlier count.

    Determinism: ENTIRELY integer — lower-median rank (n+1) div 2 over
    BIGINT lengths, deviations and the 3*MAD threshold are exact
    BIGINTs; engines cannot diverge because no double ever appears.
    Both engines build the identical explicit ROW_NUMBER rank
    construction (library median()/quantile() conventions differ).

    Scale: two ranked passes, each a window PARTITIONED by source
    (shuffle on the group key, per-group sorted scan — the inherent
    cost of an exact order statistic; [agg_exact_median_twopass] shows
    the bucket-histogram alternative when even a per-group sort is too
    much), medians broadcast back, final outlier count one hash
    agg."""
    d = load(spark, sf_dir, "documents").select("source", "n_chars")
    n = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w1 = Window.partitionBy("source").orderBy(F.asc_nulls_last("n_chars"))
    r = d.join(F.broadcast(n), "source").withColumn(
        "rn", F.row_number().over(w1)
    )
    med = r.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "source", "n", F.col("n_chars").alias("med")
    )
    dev = d.join(F.broadcast(med), "source").select(
        "source",
        "n",
        "med",
        F.abs(F.col("n_chars") - F.col("med")).alias("dv"),
    )
    w2 = Window.partitionBy("source").orderBy(F.asc_nulls_last("dv"))
    r2 = dev.withColumn("rn", F.row_number().over(w2))
    mad = r2.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "source", F.col("dv").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "source")
        .groupBy("source", "n", "med", "mad")
        .agg(
            F.sum(F.when(F.col("dv") > 3 * F.col("mad"), 1).otherwise(0))
            .cast("long")
            .alias("n_outliers")
        )
        .select(
            "source",
            "n",
            F.col("med").cast("long").alias("median_chars"),
            F.col("mad").cast("long").alias("mad_chars"),
            "n_outliers",
        )
        .orderBy("source")
    )


@query(
    "dq_referential_integrity",
    oracle="""
    SELECT 'orders->customer' AS relationship,
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_child,
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT) AS n_orphans
    UNION ALL
    SELECT 'lineitem->orders',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem->part',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem->supplier',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                   WHERE s.s_suppkey = l.l_suppkey))
                AS BIGINT)
    """,
)
def dq_referential_integrity(spark, sf_dir):
    """Cross-table referential-integrity audit — the half of data
    quality [dq_checks]'s in-table expectations can't see: orphan
    counts for the four hot foreign keys of the schema, the check an
    ingest daemon runs before promoting a snapshot (a broken upstream
    export shows up as orphans, not as bad values). Emits
    (relationship, n_child, n_orphans); green = zero orphans on the
    fixtures' consistent TPC-H keys.

    Scale: ONE key-pruned scan of the child per relationship — a left
    join against the (unique, primary-key) parent keys preserves the
    child's row count, so n_child and n_orphans come out of the same
    combining agg (an anti-join formulation would scan the child a
    second time for n_child). Every parent (customer, orders, part,
    supplier) grows with the scale factor, so none carries a broadcast
    hint: the planner picks broadcast at fixture scale and a shuffle
    join once a parent outgrows the threshold. No windows, no
    driver-side row handling."""
    def orphan_sum(hit):
        # empty child: the ungrouped SUM is NULL where the oracle's
        # COUNT subquery is 0 (the r8 audit's global-agg-on-empty
        # class) — coalesce
        return (
            F.coalesce(
                F.sum(F.when(F.col(hit).isNull(), 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
        )

    # orders->customer: one orders pass, one left join, one agg.
    oc_child = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    oc_parent = (
        load(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("k"))
        .withColumn("hit", F.lit(1))
    )
    oc = (
        oc_child.join(oc_parent, "k", "left")
        .groupBy()
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_child"),
            orphan_sum("hit").alias("n_orphans"),
        )
        .select(
            F.lit("orders->customer").alias("relationship"),
            "n_child",
            "n_orphans",
        )
    )
    # The three lineitem relationships share ONE child pass (r15):
    # chaining the three (unique, primary-key → row-count-preserving)
    # left joins onto a single scan and splitting the one aggregated
    # row back into per-relationship rows replaces three separate
    # scan+join+agg pipelines — same join count, two fewer full passes
    # over the biggest table in the schema (guide §1.2 step 1).
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    parents = [
        ("l_orderkey", "orders", "o_orderkey", "hit_o"),
        ("l_partkey", "part", "p_partkey", "hit_p"),
        ("l_suppkey", "supplier", "s_suppkey", "hit_s"),
    ]
    j = li
    for ck, parent, pk, hit in parents:
        p = (
            load(spark, sf_dir, parent)
            .select(F.col(pk).alias(ck))
            .withColumn(hit, F.lit(1))
        )
        j = j.join(p, ck, "left")
    agg = j.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_child"),
        orphan_sum("hit_o").alias("orph_o"),
        orphan_sum("hit_p").alias("orph_p"),
        orphan_sum("hit_s").alias("orph_s"),
    )
    li_rows = agg.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("lineitem->orders").alias("relationship"),
                    F.col("n_child").alias("n_child"),
                    F.col("orph_o").alias("n_orphans"),
                ),
                F.struct(
                    F.lit("lineitem->part").alias("relationship"),
                    F.col("n_child").alias("n_child"),
                    F.col("orph_p").alias("n_orphans"),
                ),
                F.struct(
                    F.lit("lineitem->supplier").alias("relationship"),
                    F.col("n_child").alias("n_child"),
                    F.col("orph_s").alias("n_orphans"),
                ),
            )
        ).alias("r")
    ).select("r.relationship", "r.n_child", "r.n_orphans")
    return oc.unionByName(li_rows)
