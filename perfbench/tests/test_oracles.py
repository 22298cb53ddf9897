"""Output checks: each fails on a perturbed output, and the pages oracle
models the page generator it stands in for."""

import re

import duckdb
import pytest

from perfbench import oracles

NATION_REGION = [(k, k % 5) for k in range(25)]


def _fixture_rows():
    """A minimal ontology declaring every nation and region a class."""
    rows = []
    for k, r in NATION_REGION:
        rows.append((f"{oracles.OBO}NATION_{k}", oracles.RDF_TYPE,
                     oracles.OWL + "Class", False, None, None))
        rows.append((f"{oracles.OBO}REGION_{r}", oracles.RDF_TYPE,
                     oracles.OWL + "Class", False, None, None))
    return rows


def test_constructed_expectation_has_the_subclass_core_shape():
    expected = oracles.fixture_constructed(NATION_REGION, _fixture_rows())
    # per edge: 7 distinct forward rows + 7 inverse rows, plus the shared
    # class and property declarations
    pkt = {s for s, _, _ in expected if "/pkt/" in s}
    assert len(pkt) == 4 * len(NATION_REGION)
    assert (f"{oracles.OBO}{oracles.FIXTURE_REL}", oracles.RDF_TYPE,
            oracles.OWL + "ObjectProperty") in expected


def test_class_gate_drops_edges_with_undeclared_sides():
    rows = [r for r in _fixture_rows() if r[0] != f"{oracles.OBO}NATION_0"]
    full = oracles.fixture_constructed(NATION_REGION, _fixture_rows())
    gated = oracles.fixture_constructed(NATION_REGION, rows)
    assert gated < full


def test_dropping_one_triple_fails_the_check():
    expected = oracles.fixture_constructed(NATION_REGION, _fixture_rows())
    got = sorted(expected)
    assert oracles.compare("constructed_edges", got, expected) == []
    errors = oracles.compare("constructed_edges", got[1:], expected)
    assert errors and "1 missing" in errors[0]


def test_added_or_duplicated_triple_fails_the_check():
    expected = {("a", "p", "b"), ("b", "p", "c")}
    assert oracles.compare("x", sorted(expected) + [("c", "p", "d")], expected)
    assert oracles.compare("x", sorted(expected) + [("a", "p", "b")], expected)


def test_pinned_stage_fails_on_a_dropped_or_changed_row(monkeypatch):
    rows = [("a", "p", "b"), ("b", "p", "c")]
    digest = oracles.content_hash(rows)
    assert digest == oracles.content_hash(list(reversed(rows)))
    monkeypatch.setitem(oracles.PINNED, "t", (2, digest))
    assert oracles.compare_pinned("t", rows) == []
    assert oracles.compare_pinned("t", rows[:1])
    assert oracles.compare_pinned("t", [("a", "p", "b"), ("b", "p", "d")])


def _surfaces(start, n, size_factor, threshold):
    surf, _ = oracles.pages_sql(start, n, size_factor, threshold)
    con = duckdb.connect()
    try:
        con.execute(surf)
        return set(con.execute("SELECT i, surface FROM surf").fetchall())
    finally:
        con.close()


@pytest.mark.parametrize("size_factor,threshold", [(1, 0.4), (5, 0.4), (5, 1.01)])
def test_surface_table_matches_the_page_generator(size_factor, threshold):
    """The SQL re-derivation of page words and the quality gate agrees with
    the generator's own rendering and the documented scoring rule. Every
    generated page meets all four criteria, so only a threshold above 1
    makes the gate drop pages."""
    from pheknowlator_spark.sources.pages import (
        _gen_rows,
        entity_dictionary_rows,
    )

    start, n = 3, 120
    surfaces = sorted({s for s, _, _ in entity_dictionary_rows()},
                      key=len, reverse=True)
    pattern = re.compile(r"\b(" + "|".join(map(re.escape, surfaces)) + r")\b")
    markers = {"the", "and", "of", "to", "in", "is", "that", "for", "with"}
    pdf = _gen_rows(range(start, start + n), size_factor)
    expected = set()
    for url, text, lang in zip(pdf["url"], pdf["text"], pdf["lang"]):
        if lang != "en":
            continue
        tokens = text.split()
        score = 0.25 * (
            (100 <= len(text) <= 100_000)
            + (3.0 <= len(text) / max(len(tokens), 1) <= 12.0)
            + (sum(ch in "!?.,;:" for ch in text) / max(len(text), 1) < 0.2)
            + (len(set(tokens) & markers) >= 2)
        )
        if score < threshold:
            continue
        i = int(url.rsplit("/", 1)[1])
        expected |= {(i, m) for m in pattern.findall(text)}
    assert bool(expected) == (threshold <= 1)
    assert _surfaces(start, n, size_factor, threshold) == expected


def test_pages_oracle_is_deterministic_and_window_dependent():
    a = oracles.pages_expected(5, 200, 1, 0.4)
    assert a == oracles.pages_expected(5, 200, 1, 0.4)
    assert _surfaces(5, 50, 1, 0.4) != _surfaces(60, 50, 1, 0.4)
