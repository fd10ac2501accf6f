"""Exact-parity tests against the reference's own golden fixtures.

tests/fixtures/nomic_embeddings.json holds the 5 precomputed 768-dim
nomic-embed-text vectors exported from reference fixtures_test.go:24-29
(FIXTURES.md §F2 — fixture DATA, no code). The assertions replicate the
reference's semantic-ranking tests verbatim:

- plain query "town": doc "1" (Village Builder Game) ranks above doc
  "3" (Some Idle Game) — reference query_test.go:111-135;
- negative SUBTRACT mode (query "town" - negative "idle"): result order
  exactly 1, 2, 3 — reference query_test.go:137-170;
- negative FILTER mode (default threshold 0.5): only doc "1" survives —
  reference query_test.go:172-197.
"""

from __future__ import annotations

import json
import os

import pytest

from chromem_go_spark import DB, Document

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "nomic_embeddings.json")

DOCS = {
    "1": "search_document: Village Builder Game",
    "2": "search_document: Town Craft Idle Game",
    "3": "search_document: Some Idle Game",
}


@pytest.fixture(scope="module")
def vectors():
    with open(FIXTURE) as f:
        return json.load(f)


@pytest.fixture()
def collection(spark, vectors):
    def embed(text: str):
        return vectors[text]

    db = DB(spark)
    c = db.create_collection("fixture-kb", embedding_func=embed)
    c.add_documents(
        [Document(id=i, content=text) for i, text in DOCS.items()]
    )
    return c


def test_plain_query_ranking(collection):
    res = collection.query("search_query: town", 3).collect()
    ids = [r["id"] for r in res]
    assert ids.index("1") < ids.index("3")
    assert all(-1.0 <= r["similarity"] <= 1.0 for r in res)


def test_negative_subtract_order_1_2_3(collection, vectors):
    """Reference query_test.go:137-170: subtract 'idle' from 'town' and
    the expected order is exactly 1, 2, 3."""
    res = collection.query_embedding(
        vectors["search_query: town"],
        3,
        negative_embedding=vectors["search_query: idle"],
        negative_mode="subtract",
    ).collect()
    assert [r["id"] for r in res] == ["1", "2", "3"]


def test_negative_filter_only_doc_1(collection, vectors):
    """Reference query_test.go:172-197: filter mode at the default 0.5
    threshold leaves only doc '1'."""
    res = collection.query_embedding(
        vectors["search_query: town"],
        3,
        negative_embedding=vectors["search_query: idle"],
        negative_mode="filter",
    ).collect()
    assert [r["id"] for r in res] == ["1"]


def test_negative_text_query_api(collection):
    """query() with negative_text (reference QueryWithOptions
    Negative.Text, collection.go:51-90): same goldens as the
    vector-level calls."""
    res = collection.query(
        "search_query: town",
        3,
        negative_text="search_query: idle",
        negative_mode="subtract",
    ).collect()
    assert [r["id"] for r in res] == ["1", "2", "3"]
    res = collection.query(
        "search_query: town",
        3,
        negative_text="search_query: idle",
        negative_mode="filter",
    ).collect()
    assert [r["id"] for r in res] == ["1"]


def test_negative_without_mode_defaults_to_subtract(collection, vectors):
    """A negative given without a mode searches in subtract mode, the
    reference's default — never silently as the plain query."""
    town, idle = vectors["search_query: town"], vectors["search_query: idle"]

    def rows(**kw):
        return [
            (r["id"], round(r["similarity"], 6))
            for r in collection.query_embedding(town, 3, **kw).collect()
        ]

    default = rows(negative_embedding=idle)
    assert default == rows(negative_embedding=idle, negative_mode="subtract")
    assert default != rows()
    res = collection.query(
        "search_query: town", 3, negative_text="search_query: idle"
    ).collect()
    assert [(r["id"], round(r["similarity"], 6)) for r in res] == default


def test_unknown_negative_mode_raises(collection, vectors):
    with pytest.raises(ValueError, match="'subtract' or 'filter'"):
        collection.query_embedding(
            vectors["search_query: town"],
            3,
            negative_embedding=vectors["search_query: idle"],
            negative_mode="Subtract",
        )
