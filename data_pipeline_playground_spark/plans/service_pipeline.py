"""Service-shaped pipeline (reference §3.2: GET /search on
reddit_api.py:69-153) as a parameterized DataFrame plan.

    wiki sections → heuristic rank top-10 → 'Uncategorized' prepend →
    per-section article fan-out → fuzzy dedup vs seen → group by
    section → drop empty → LexRank top-3 summary per section

The aiohttp fan-out (R1) becomes Spark task parallelism: every
section's article set is one partition-parallel join, not an event
loop. Sources are fixture-backed (sources/http_sources.py); a live
connector plugs in without touching this plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_playground_spark.operators.lexrank import (
    lexrank_scores_grouped,
    tfidf_term_weights,
    top_k_representatives,
)
from data_pipeline_playground_spark.sources.http_sources import rank_sections
from data_pipeline_playground_spark.tables import local_frame


def run_service_pipeline(sections: DataFrame, articles: DataFrame,
                         top_sentences: int = 3) -> DataFrame:
    """sections: (page_title, line, toclevel); articles: (_id, title,
    text, section_line) — text nullable (failed fetch/parse rows).

    Returns one row per non-empty section:
      section, n_articles, article_ids (sorted), summary_ids (LexRank
      top-k representative article ids, reference reddit_api.py:145-151).
    """
    spark = sections.sparkSession
    ranked = rank_sections(sections).select("line")
    uncat = local_frame(spark, [("Uncategorized",)], "line string")
    wanted = ranked.unionByName(uncat)  # U1 prepend (reddit_api.py:103)

    # J1 index-join articles → kept sections; P6 drop failed fetches
    arts = (
        articles.filter(F.col("text").isNotNull())
        .join(F.broadcast(wanted), articles.section_line == wanted.line)
        .select(F.col("_id").alias("doc_id"), "title", "text",
                F.col("line").alias("section"))
    )

    # D1 fuzzy dedup vs seen (order-insensitive keep-min-id spec)
    from data_pipeline_playground_spark.operators.dedup import (
        fuzzy_dedup_survivors,
    )

    survivors = fuzzy_dedup_survivors(arts.select("doc_id", "text"))
    # materialized once: TF-IDF, the LexRank groups and the section
    # aggregation below each read it, and lazily each would re-plan the
    # filter → broadcast join → fuzzy dedup subtree (24 query stages, 13
    # of them ReusedExchange, per request). localCheckpoint, not cache:
    # the ContextCleaner frees the blocks when the frame goes out of
    # scope (operators/dedup.py does the same for its signature table).
    arts = arts.join(survivors, "doc_id").localCheckpoint(eager=True)

    # N10/T4: LexRank top-k representative articles per section
    # (sections are bounded groups → grouped fast path)
    groups = arts.select("doc_id", F.col("section").alias("group"))
    weights = tfidf_term_weights(arts.select("doc_id", "text"))
    scores = lexrank_scores_grouped(weights, groups, group_type="string")
    top = (
        top_k_representatives(scores, k=top_sentences)
        .groupBy("group")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("summary_ids"))
    )

    # A1 group + P9 drop-empty (inner joins keep only non-empty groups)
    return (
        arts.groupBy("section")
        .agg(
            F.count(F.lit(1)).alias("n_articles"),
            F.sort_array(F.collect_list("doc_id")).alias("article_ids"),
        )
        .join(top, F.col("section") == top.group, "left")
        .select("section", "n_articles", "article_ids", "summary_ids")
    )
