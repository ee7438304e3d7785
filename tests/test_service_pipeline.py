"""End-to-end §3.2 service-pipeline test over fixture-shaped inputs
derived from driver tables (documents supplies the article bodies)."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from data_pipeline_playground_spark.tables import table


def test_service_pipeline_end_to_end(spark, sf_dir):
    from data_pipeline_playground_spark.plans.service_pipeline import (
        run_service_pipeline,
    )

    # sections: a few real + reserved headings (score-0) + extras >10
    rows = [("Page", f"Sec{i}", 1) for i in range(12)] + [
        ("Page", "References", 1),
        ("Page", "External links", 1),
    ]
    sections = spark.createDataFrame(
        rows, "page_title string, line string, toclevel int"
    )

    # articles from documents, fanned out to sections round-robin;
    # a few null-text rows simulate failed fetches (P6)
    docs = table(spark, sf_dir, "documents").limit(120)
    articles = docs.select(
        F.col("doc_id").alias("_id"),
        F.substring("text", 1, 30).alias("title"),
        F.when(F.col("doc_id") % 17 == 0, F.lit(None)).otherwise(F.col("text")).alias("text"),
        F.concat(F.lit("Sec"), (F.col("doc_id") % 12).cast("string")).alias("section_line"),
    )

    out = run_service_pipeline(sections, articles).collect()
    sections_out = {r.section for r in out}
    assert "References" not in sections_out  # reserved headings demoted out
    assert len(out) >= 8
    for r in out:
        assert r.n_articles > 0  # P9: no empty sections
        assert r.summary_ids and 1 <= len(r.summary_ids) <= 3  # N10 top-3
        assert set(r.summary_ids) <= set(r.article_ids)
        # dedup + null-filter: every listed article has text and survived
    all_ids = [i for r in out for i in r.article_ids]
    assert len(all_ids) == len(set(all_ids))  # each article in one section


def _pinned_request(spark, sf_dir):
    """One fixed request over documents doc_id < 200: 12 sections plus
    two reserved headings; article d goes to Sec(d % 13), with 12 meaning
    the 'Uncategorized' row; every 17th fetch failed (null text)."""
    rows = [("Page", f"Sec{i}", 1) for i in range(12)] + [
        ("Page", "References", 1),
        ("Page", "External links", 1),
    ]
    sections = spark.createDataFrame(
        rows, "page_title string, line string, toclevel int"
    )
    d = F.col("doc_id")
    articles = (
        table(spark, sf_dir, "documents")
        .filter(d < 200)
        .select(
            d.alias("_id"),
            F.substring("text", 1, 30).alias("title"),
            F.when(d % 17 == 0, F.lit(None)).otherwise(F.col("text")).alias("text"),
            F.when(d % 13 == 12, F.lit("Uncategorized"))
            .otherwise(F.concat(F.lit("Sec"), (d % 13).cast("string")))
            .alias("section_line"),
        )
    )
    return sections, articles


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_service_uncategorized_row_is_a_local_scan(spark, sf_dir, monkeypatch):
    """The constant 'Uncategorized' row plans as a LocalTableScan, not
    a pickled Python RDD (Scan ExistingRDD[line#n]). Frames the plan
    materializes on the way are checked too: the prepended row is
    consumed there, not in the final plan."""
    from data_pipeline_playground_spark.plans.service_pipeline import (
        run_service_pipeline,
    )

    plans = []
    frame_cls = type(spark.range(1))
    checkpoint = frame_cls.localCheckpoint

    def recording_checkpoint(self, *args, **kwargs):
        plans.append(_executed_plan(self))
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording_checkpoint)
    out = run_service_pipeline(*_pinned_request(spark, sf_dir))
    plans.append(_executed_plan(out))
    text = "\n".join(plans)
    assert not re.search(r"Scan ExistingRDD\[line#\d+\]", text), text
    assert re.search(r"LocalTableScan \[line#\d+\]", text), text


# (section, n_articles, article_ids, summary_ids) of _pinned_request on
# sf0.001 documents
_PINNED_ROWS = [
    ("Sec0", 15,
     [13, 26, 39, 52, 65, 78, 91, 104, 117, 130, 143, 156, 169, 182, 195],
     [39, 104, 156]),
    ("Sec1", 14,
     [1, 14, 27, 40, 53, 66, 79, 92, 105, 118, 131, 144, 183, 196],
     [1, 144, 196]),
    ("Sec10", 13,
     [10, 23, 36, 49, 62, 75, 88, 101, 127, 140, 166, 179, 192],
     [23, 62, 192]),
    ("Sec11", 14,
     [11, 24, 37, 50, 63, 76, 89, 115, 128, 141, 154, 167, 180, 193],
     [11, 76, 154]),
    ("Sec2", 15,
     [2, 15, 28, 41, 54, 67, 80, 93, 106, 132, 145, 158, 171, 184, 197],
     [28, 80, 106]),
    ("Sec3", 14,
     [3, 16, 29, 42, 55, 81, 94, 107, 133, 146, 159, 172, 185, 198],
     [3, 29, 133]),
    ("Sec4", 14,
     [4, 30, 43, 56, 69, 95, 108, 121, 134, 147, 160, 173, 186, 199],
     [30, 108, 199]),
    ("Sec5", 13,
     [5, 18, 31, 44, 57, 70, 83, 96, 109, 122, 135, 148, 174],
     [109, 148, 174]),
    ("Sec6", 14,
     [6, 19, 32, 45, 58, 71, 84, 97, 110, 123, 149, 162, 175, 188],
     [6, 71, 149]),
    ("Sec7", 13,
     [7, 20, 33, 46, 59, 72, 98, 111, 124, 137, 150, 163, 189],
     [72, 98, 124]),
    ("Uncategorized", 14,
     [12, 25, 38, 64, 77, 90, 103, 116, 129, 142, 155, 168, 181, 194],
     [38, 90, 168]),
]


def test_service_pipeline_pinned_output(spark, sf_dir):
    """Exact output of one fixed request: materializing or re-planning
    the article frame must not change a row."""
    from data_pipeline_playground_spark.plans.service_pipeline import (
        run_service_pipeline,
    )

    if os.path.basename(os.path.normpath(sf_dir)) != "sf0.001":
        pytest.skip("pinned rows are for the sf0.001 documents table")
    out = run_service_pipeline(*_pinned_request(spark, sf_dir)).collect()
    got = sorted(
        (r.section, r.n_articles, list(r.article_ids), list(r.summary_ids))
        for r in out
    )
    assert got == _PINNED_ROWS
