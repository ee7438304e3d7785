"""Benchmark inputs. The tables are copies of the repository's own
``documents`` test tables (``data/sf0.01``: 500 documents, the oracle
scale; ``data/sf0.1``: 5000 documents, the benchmark scale), so the
program reads the same text, languages and duplicates its tests read.
The run's seed draws the requests and the query order, so the same seed
gives the same inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
CORPUS_DIR = os.path.join(DATA, "sf0.01")   # holds documents.parquet
SERVICE_POOL = os.path.join(DATA, "sf0.1", "documents.parquet")

RESERVED = ("External links", "References", "Bibliography", "Notes", "See also")
SECTIONS_PER_REQUEST = 12


def documents(path: str) -> pa.Table:
    return pq.read_table(path)


def service_request(docs: pa.Table, rng: np.random.Generator,
                    n_articles: int) -> dict:
    """One GET /search request: 12 section headings plus one reserved
    heading, and ``n_articles`` articles drawn from ``docs``, each fanned
    out to one heading (or 'Uncategorized'); 5% have a failed fetch
    (null text)."""
    headings = [f"Section {k:02d}" for k in
                rng.choice(40, SECTIONS_PER_REQUEST, replace=False)]
    headings.append(str(rng.choice(RESERVED)))
    sections = {
        "page_title": ["Page"] * len(headings),
        "line": headings,
        "toclevel": rng.integers(1, 4, len(headings)).astype(np.int32).tolist(),
    }
    rows = rng.choice(docs.num_rows, n_articles, replace=False)
    picked = docs.take(pa.array(rows))
    text = picked.column("text").to_pylist()
    failed = rng.random(n_articles) < 0.05
    labels = headings + ["Uncategorized"]
    articles = {
        "_id": picked.column("doc_id").to_pylist(),
        "title": [t[:30] for t in text],
        "text": [None if f else t for t, f in zip(text, failed)],
        "section_line": [labels[i] for i in rng.integers(0, len(labels), n_articles)],
    }
    return {"sections": sections, "articles": articles}


def expected_sections(sections: dict, top: int = 10) -> set[str]:
    """Headings the service should keep: reserved headings rank last,
    then by toclevel descending and name; the top ``top`` plus
    'Uncategorized'."""
    ranked = sorted(
        zip(sections["line"], sections["toclevel"]),
        key=lambda lt: (lt[0] in RESERVED, -lt[1], lt[0]),
    )
    return {line for line, _ in ranked[:top]} | {"Uncategorized"}
