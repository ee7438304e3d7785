"""ML clustering + summarization (SURVEY §2.8 N6/N9/N10, §7 M3).

These operators are iterative/model-based → genuinely non-SQL, so they
have NO oracle_sql entries (the driver records rows-only checks);
invariant tests live in tests/test_ml_invariants.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_playground_spark.functions.text import tokenize
from data_pipeline_playground_spark.operators.lexrank import (
    lexrank_scores_grouped,
    lexrank_sentence_summaries,
    sentence_rows,
    similarity_edges_grouped,
    tfidf_term_weights,
    top_k_representatives,
)
from data_pipeline_playground_spark.registry import query
from data_pipeline_playground_spark.tables import table

SEED = 42

# Reference cluster.py:51-53 sets k = n_articles // 4, which is sane for
# its ~100-article scrape but makes KMeans O(n·k·d) = O(n²d) when k∝n.
# Deviation (documented): cap k so cost stays O(n·d) past the cap — at
# the reference's own scale (n ≤ 256) the cap never binds, so behavior
# is identical where the reference actually runs.
KMEANS_K_CAP = 64

# Iteration budgets for the rows-only fits, named so the bench can
# RECORD them in its JSON (ADVICE r5 #2: round totals must stay
# attributable to engine changes, not silent fidelity-knob cuts).
# The cuts themselves are documented at each fit site.
KMEANS_MAX_ITER = 10
LDA_MAX_ITER = 5        # vs 10 in rounds 2-4; reference gensim passes=50
BISECTING_MAX_ITER = 8  # vs stock 20
PIC_MAX_ITER = 6        # vs 10 in rounds 2-4


# Floor on rows per inference task: below this, per-task scheduling +
# model-broadcast deserialization outweigh the per-row inference work.
_MIN_ROWS_PER_TASK = 64


def _spread_for_transform(df: DataFrame, n_rows: int) -> DataFrame:
    """Round 15 (guide §2, VERDICT r14 #1): the cached corpus frames
    arrive as ONE scan partition at bench SFs, so every MLlib
    ``model.transform`` over them ran serially no matter the core
    count — the measured face of lda_doc_topics' 0.23 anti-scaling
    ratio (3.4 s serial → 0.44 s spread at 32 cores, bit-identical
    output: per-row inference is deterministic per document, verified
    at sf0.1/sf0.01 under repartition(32) and repartition(7)).

    Spread rows before inference, scale-adaptively: enough partitions
    for the cluster, but never fewer than _MIN_ROWS_PER_TASK rows per
    task. NEVER apply this to a frame feeding a ``.fit`` — mini-batch
    sampling (online LDA, k-means||) is partition-dependent, so
    repartitioning a fit input changes the model.

    Applied ONLY where per-row inference is expensive enough to beat
    the repartition's own shuffle (LDA's per-doc variational loop:
    3.38 → 0.53 s). For cheap transforms the shuffle LOSES — measured
    on a probe-clean box and REVERTED (guide §1.1's fresh-ideal-plan
    trap): kmeans_clusters 1.32 → 1.86 s, bisecting_kmeans_clusters
    1.62 → 2.35 s with the spread; both returned to baseline without
    it. Centroid-distance argmax is a few FLOPs per row; shuffling
    the SparseVector frame costs more than the serial scan.
    """
    dp = df.sparkSession.sparkContext.defaultParallelism
    parts = max(1, min(dp, n_rows // _MIN_ROWS_PER_TASK))
    if df.rdd.getNumPartitions() >= parts:
        return df
    return df.repartition(parts)


def _tokens_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", tokenize(F.col("text")).alias("tokens"))


def _tfidf_features(tokens_df: DataFrame):
    """CountVectorizer → IDF → L2 Normalizer pipeline (reference
    cluster.py:25-30: TfidfVectorizer(smooth_idf=True) + L2 norm)."""
    from pyspark.ml.feature import IDF, CountVectorizer, Normalizer

    cv = CountVectorizer(inputCol="tokens", outputCol="tf")
    cv_model = cv.fit(tokens_df)
    tf = cv_model.transform(tokens_df)
    idf = IDF(inputCol="tf", outputCol="tfidf").fit(tf)
    feats = idf.transform(tf)
    norm = Normalizer(inputCol="tfidf", outputCol="features", p=2.0)
    return norm.transform(feats), cv_model.vocabulary


def _tfidf_features_memo(spark: SparkSession, sf_dir: str):
    """Corpus TF-IDF features, fitted once per (session, sf_dir) —
    KMeans, BisectingKMeans and the dedup-free ML paths all featurize
    the identical documents table, so the two fits (CountVectorizer,
    IDF) and the cached feature frame are shared. Returns
    (features_df, vocabulary, n_docs)."""
    from data_pipeline_playground_spark.caching import memo

    def build():
        toks = _tokens_df(spark, sf_dir)
        feats, vocab = _tfidf_features(toks)
        feats = feats.cache()
        return (feats, vocab, feats.count())

    return memo(spark, "tfidf_features", sf_dir, build)


@query("kmeans_clusters")
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-Means over TF-IDF vectors, k = min(n_docs // 4, cap) (reference
    intent at cluster.py:51-53: KMeans(n_clusters=len(articles)//4,
    k-means++, seeded); see KMEANS_K_CAP for the documented deviation).
    Output: cluster sizes (J2 label-join shape: groupBy on the
    prediction column)."""
    from pyspark.ml.clustering import KMeans

    feats, _, n = _tfidf_features_memo(spark, sf_dir)
    k = max(2, min(n // 4, KMEANS_K_CAP))
    model = KMeans(k=k, maxIter=KMEANS_MAX_ITER, seed=SEED, featuresCol="features").fit(feats)
    # no _spread_for_transform: centroid assignment is a few FLOPs per
    # row and the repartition measured SLOWER (see _spread_for_transform)
    pred = model.transform(feats)
    return (
        pred.groupBy(F.col("prediction").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("cluster_id")
    )


# Both LDA queries need the same fitted model; fitting is the dominant
# cost, so memoize per (session, sf_dir) — deterministic (seeded, same
# input), and never reused across sessions (caching.py).
def _lda_fit(spark: SparkSession, sf_dir: str):
    from data_pipeline_playground_spark.caching import memo

    def build():
        from pyspark.ml.clustering import LDA
        from pyspark.ml.feature import CountVectorizer

        toks = _tokens_df(spark, sf_dir)
        cv_model = CountVectorizer(inputCol="tokens", outputCol="features").fit(toks)
        # cached BEFORE the fit: online VB samples the corpus every
        # iteration — uncached, each pass replays tokenize+CV transform
        bow = cv_model.transform(toks).cache()
        n = bow.count()
        k = max(2, min(n // 5, 10))
        # maxIter=5 (vs 10 in rounds 2-4; reference gensim passes=50 on
        # ~100 docs, lda.py:49): online VB's document-topic argmax — the
        # only thing the two consumers read — stabilizes within a few
        # corpus passes at this k; rows-only queries, documented cut in
        # the KMEANS_K_CAP spirit to keep the no-oracle bench block lean.
        model = LDA(k=k, maxIter=LDA_MAX_ITER, seed=SEED, optimizer="online").fit(bow)
        return (cv_model, model, bow)

    return memo(spark, "lda_fit", sf_dir, build)


@query("lda_topics")
def lda_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LDA topic model (reference lda.py:43-54: num_topics = n//5,
    capped for corpus-level tractability; passes→maxIter). Output:
    topic → top-10 keywords (reference extracts 10 keywords/topic,
    lda.py:54)."""
    cv_model, model, _ = _lda_fit(spark, sf_dir)
    vocab = cv_model.vocabulary
    topics = model.describeTopics(10)
    # space-joined string (not array<string>) so the driver's
    # pandas-based hasher can factorize the column; order is the
    # model's weight ranking, which is deterministic under the seed
    to_words = F.udf(lambda idxs: " ".join(vocab[i] for i in idxs), "string")
    return topics.select(
        F.col("topic").alias("topic_id"),
        to_words("termIndices").alias("keywords"),
    )


@query("lda_doc_topics")
def lda_doc_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document argmax topic assignment (reference lda.py:59-64, J3)
    aggregated to topic sizes — every doc lands in exactly one topic."""
    from pyspark.ml.functions import vector_to_array

    _, model, bow = _lda_fit(spark, sf_dir)
    # bow is cached, so the count is a metadata-cheap job; the fit
    # above keeps the ORIGINAL bow (see _spread_for_transform).
    pred = model.transform(_spread_for_transform(bow, bow.count()))
    arr = vector_to_array("topicDistribution")
    best = F.expr(
        "array_position(topic_arr, array_max(topic_arr)) - 1"
    )
    return (
        pred.withColumn("topic_arr", arr)
        .withColumn("topic_id", best.cast("int"))
        .groupBy("topic_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("topic_id")
    )


@query("bisecting_kmeans_clusters")
def bisecting_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical clustering (reference N8, cluster.py:46-50 dormant:
    AgglomerativeClustering(n_clusters=5, affinity=cosine, complete
    linkage)). Spark-first analog: BisectingKMeans(k=5) — divisive
    rather than agglomerative, but the same top-down tree shape scales
    where all-pairs linkage cannot; over L2-normalized TF-IDF vectors,
    Euclidean distance is monotone in cosine (||a-b||² = 2 - 2·cos), so
    the affinity matches the reference's intent. Output: cluster sizes."""
    from pyspark.ml.clustering import BisectingKMeans

    feats, _, _ = _tfidf_features_memo(spark, sf_dir)
    # maxIter=8 (vs stock 20): each bisection's Lloyd refinement
    # converges in a handful of steps on L2-normalized TF-IDF; the
    # stock setting just burns 4 extra distributed jobs per split.
    model = BisectingKMeans(
        k=5, maxIter=BISECTING_MAX_ITER, seed=SEED, featuresCol="features"
    ).fit(feats)
    # no _spread_for_transform: tree-descent assignment is cheap per
    # row and the repartition measured SLOWER (see _spread_for_transform)
    return (
        model.transform(feats)
        .groupBy(F.col("prediction").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("cluster_id")
    )


def _doc_weights_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level smooth-idf term weights over `documents`, built once
    per (session, sf_dir): lexrank_representatives and
    power_iteration_clusters consume the identical (doc_id, term, w)
    frame, so the tokenize+TF-IDF subtree and its cache are shared."""
    from data_pipeline_playground_spark.caching import memo

    def build():
        docs = table(spark, sf_dir, "documents")
        w = tfidf_term_weights(docs).cache()
        w.count()
        return w

    return memo(spark, "lexrank_doc_weights", sf_dir, build)


def _sentence_artifacts_memo(spark: SparkSession, sf_dir: str):
    """(sentence_rows, sid-keyed TF-IDF weights) over `documents`,
    built once per (session, sf_dir) — the sentence split (UDTF) and
    the sentence-level TF-IDF fit dominate every summary query's cost,
    and lexrank_summaries / news_summaries consume the identical
    frames."""
    from data_pipeline_playground_spark.caching import memo

    def build():
        docs = table(spark, sf_dir, "documents")
        sents = sentence_rows(docs).cache()
        sents.count()
        weights = tfidf_term_weights(
            sents.select(
                F.col("sid").alias("doc_id"), F.col("sentence").alias("text")
            )
        ).cache()
        weights.count()
        return (sents, weights)

    return memo(spark, "lexrank_sentence_artifacts", sf_dir, build)


@query("power_iteration_clusters")
def power_iteration_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph clustering (reference N7, cluster.py:39-44,68-94 dormant:
    AffinityPropagation over the pairwise-similarity matrix, then drop
    clusters with < 3 members ≥ .55 sim — cluster.py:83). Spark-first
    analog per SURVEY §2.8: PowerIterationClustering on the same
    within-source TF-IDF cosine graph LexRank uses (built via the
    bounded-group edge-list fast path — one shuffle, dense numpy per
    block), kNN-sparsified to top-10 neighbors per node: PIC cost is
    ∝ |E| per iteration, so the m·n graph (not the dense n² block) is
    what survives a 1000× corpus. AP's exemplar count is emergent; PIC
    needs k, set to the source-group count. AP's ≥3-member filter (A2)
    is kept. initMode='degree' for seedless determinism. Output:
    cluster sizes, largest first."""
    from pyspark.ml.clustering import PowerIterationClustering

    docs = table(spark, sf_dir, "documents")
    groups = docs.select("doc_id", F.col("source").alias("group"))
    k = docs.select(F.countDistinct("source")).first()[0]
    weights = _doc_weights_memo(spark, sf_dir)
    # PIC is iterative (RDD-backed power iteration + k-means): it fires
    # many actions over its input, so materialize the edge list once —
    # localCheckpoint also truncates the TF-IDF/applyInPandas lineage
    # those actions would otherwise replay per iteration.
    edges = similarity_edges_grouped(
        weights, groups, top_m=10
    ).localCheckpoint(eager=True)
    # maxIter=6 (vs 10 in rounds 2-4): on a kNN-sparsified cosine graph
    # with degree init the embedding's k-means partition stabilizes in
    # a handful of power steps; each extra step is a full RDD job over
    # |E| — documented cut (KMEANS_K_CAP spirit), rows-only query.
    pic = PowerIterationClustering(
        k=max(2, k), maxIter=PIC_MAX_ITER, initMode="degree", weightCol="sim"
    )
    assignments = pic.assignClusters(edges)
    return (
        assignments.groupBy(F.col("cluster").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 3)
        .orderBy(F.desc("n_docs"), F.asc("cluster_id"))
    )


@query("lexrank_representatives")
def lexrank_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LexRank centrality top-3 per source group (reference N10: LexRank
    over each cluster's texts/titles, head(3) at reddit_api.py:148-149).
    Source groups are bounded (≤ a few hundred docs), so this uses the
    grouped fast path: corpus-wide smooth-idf weights, then per-group
    cosine graph + 8 power-iteration steps in one applyInPandas pass."""
    docs = table(spark, sf_dir, "documents")
    groups = docs.select("doc_id", F.col("source").alias("group"))
    weights = _doc_weights_memo(spark, sf_dir)
    scores = lexrank_scores_grouped(weights, groups, group_type="string")
    return top_k_representatives(scores, k=3)


@query("lexrank_summaries")
def lexrank_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-granularity LexRank summaries per source group — the
    reference's actual N10 output shape (summarize.py:17-26 ranks
    sentences and returns top-k sentence text; reddit_api.py:148-149
    joins the top-3 with ' '). Sentences come from the SplitSentences
    UDTF (N2); rows-only check (iterative centrality); the
    summary ⊆ source-sentences invariant is tested in
    tests/test_ml_invariants.py."""
    docs = table(spark, sf_dir, "documents")
    groups = docs.select("doc_id", F.col("source").alias("group"))
    sents, weights = _sentence_artifacts_memo(spark, sf_dir)
    return lexrank_sentence_summaries(
        docs, groups, k=3, group_type="string", sents=sents, weights=weights
    )


@query("news_summaries")
def news_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's PAIRED summary shape (summarize.py:20-23 returns
    ``{title: [...], text: [...]}`` — sumpy LexRank is run over the
    cluster's titles AND its texts; reddit_api.py:146-150 joins each
    tier's top-3 with ' '). Output: (group, title_summary,
    text_summary), one row per source group.

    The documents corpus has no title column, so the title tier uses
    each doc's FIRST sentence as its headline proxy (sent_id = 0 —
    documented deviation; the reference's articles carry real titles).
    Both tiers share the memoized sentence split + sentence-level
    TF-IDF fit: the title tier is LexRank over the title subset of the
    same sid-keyed weight frame (corpus idf, not title-only idf — the
    bounded-group centrality ranking is idf-shift invariant in
    practice and the shared fit avoids a second full pass), the text
    tier is the existing sentence-level top-3. Rows-only (iterative
    centrality); the title_summary ⊆ member-first-sentences invariant
    is tested in tests/test_ml_invariants.py.
    """
    docs = table(spark, sf_dir, "documents")
    groups = docs.select("doc_id", F.col("source").alias("group"))
    sents, weights = _sentence_artifacts_memo(spark, sf_dir)

    text_tier = lexrank_sentence_summaries(
        docs, groups, k=3, group_type="string", sents=sents, weights=weights
    ).select("group", F.col("summary").alias("text_summary"))

    titles = sents.filter(F.col("sent_id") == 0)
    title_groups = titles.join(groups, "doc_id").select(
        F.col("sid").alias("doc_id"), "group"
    )
    title_weights = weights.join(
        titles.select(F.col("sid").alias("doc_id")), "doc_id"
    )
    title_scores = lexrank_scores_grouped(
        title_weights, title_groups, group_type="string", id_type="string"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("group").orderBy(
        F.desc(F.round("score", 9)), F.asc("doc_id")
    )
    title_tier = (
        title_scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .join(
            titles.select(F.col("sid").alias("doc_id"), "sentence"), "doc_id"
        )
        .groupBy("group")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("rank", "sentence"))),
                    lambda s: s["sentence"],
                ),
                " ",
            ).alias("title_summary")
        )
    )
    return title_tier.join(text_tier, "group", "full_outer").select(
        "group", "title_summary", "text_summary"
    )
