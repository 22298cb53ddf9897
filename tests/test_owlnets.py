"""OWL-NETS decode tests (M4) — one fixture per decode rule, with expected
outputs derived from the published OWL-NETS 2.0 semantics (reference
tests/test_owlnets.py:652-965 assertion style, re-derived not copied)."""

import pytest
from pyspark.sql import functions as F

from pheknowlator_spark.functions.rdf import (
    OBO,
    OWL_AXIOM,
    OWL_CLASS,
    OWL_OBJECT_PROPERTY,
    OWL_RESTRICTION,
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    RDFS_SUBCLASSOF,
)
from pheknowlator_spark.operators.owlnets import (
    BFO_ROOT,
    RO_0000086,
    assign_forests,
    decode_roots,
    make_graph_connected,
    purify_graph,
    run_owlnets,
)

OWL_NS = "http://www.w3.org/2002/07/owl#"
GO1, GO2, GO3 = OBO + "GO_0000785", OBO + "GO_0110165", OBO + "GO_0005694"
PART_OF = OBO + "BFO_0000050"
A, B, X, Y = OBO + "A_1", OBO + "B_1", OBO + "X_1", OBO + "Y_1"
PATO = OBO + "PATO_0000587"


def t(s, p, o, lit=False):
    return (s, p, o, lit, None, None)


TRIPLE_SCHEMA = (
    "s string, p string, o string, o_is_literal boolean, "
    "o_lang string, o_datatype string"
)


def make_triples(spark, rows):
    base = [
        t(PART_OF, RDF_TYPE, OWL_OBJECT_PROPERTY),
        t(RO_0000086, RDF_TYPE, OWL_OBJECT_PROPERTY),
    ]
    return spark.createDataFrame(base + rows, TRIPLE_SCHEMA)


def decoded_set(spark, rows, approach="subclass"):
    out = run_owlnets(make_triples(spark, rows), approach=approach)
    return {(r.s, r.p, r.o) for r in out["owlnets"].collect()}, out


def test_restriction_decode(spark):
    rows = [
        t(GO1, RDF_TYPE, OWL_CLASS),
        t(GO2, RDF_TYPE, OWL_CLASS),
        t(GO3, RDF_TYPE, OWL_CLASS),
        t(GO1, RDFS_SUBCLASSOF, GO2),
        t(GO1, RDFS_SUBCLASSOF, "bnode:r1"),
        t("bnode:r1", RDF_TYPE, OWL_RESTRICTION),
        t("bnode:r1", OWL_NS + "onProperty", PART_OF),
        t("bnode:r1", OWL_NS + "someValuesFrom", GO3),
    ]
    got, _ = decoded_set(spark, rows)
    assert (GO1, PART_OF, GO3) in got  # the decoded restriction
    assert (GO1, RDFS_SUBCLASSOF, GO2) in got  # plain triple survives


def test_intersection_decode(spark):
    rows = [
        t(X, RDF_TYPE, OWL_CLASS),
        t(A, RDF_TYPE, OWL_CLASS),
        t(B, RDF_TYPE, OWL_CLASS),
        t(X, RDFS_SUBCLASSOF, "bnode:c1"),
        t("bnode:c1", RDF_TYPE, OWL_CLASS),
        t("bnode:c1", OWL_NS + "intersectionOf", "bnode:l1"),
        t("bnode:l1", RDF_FIRST, A),
        t("bnode:l1", RDF_REST, "bnode:l2"),
        t("bnode:l2", RDF_FIRST, B),
        t("bnode:l2", RDF_REST, RDF_NIL),
    ]
    got, _ = decoded_set(spark, rows)
    # intersection: node → member (owlnets.py:534-535)
    assert (X, RDFS_SUBCLASSOF, A) in got
    assert (X, RDFS_SUBCLASSOF, B) in got


def test_union_decode_reversed(spark):
    rows = [
        t(X, RDF_TYPE, OWL_CLASS),
        t(A, RDF_TYPE, OWL_CLASS),
        t(B, RDF_TYPE, OWL_CLASS),
        t(X, RDFS_SUBCLASSOF, "bnode:c1"),
        t("bnode:c1", RDF_TYPE, OWL_CLASS),
        t("bnode:c1", OWL_NS + "unionOf", "bnode:l1"),
        t("bnode:l1", RDF_FIRST, A),
        t("bnode:l1", RDF_REST, "bnode:l2"),
        t("bnode:l2", RDF_FIRST, B),
        t("bnode:l2", RDF_REST, RDF_NIL),
    ]
    got, _ = decoded_set(spark, rows)
    # union: member → node (owlnets.py:528-529)
    assert (A, RDFS_SUBCLASSOF, X) in got
    assert (B, RDFS_SUBCLASSOF, X) in got


def test_has_self_decode(spark):
    rows = [
        t(X, RDF_TYPE, OWL_CLASS),
        t(X, RDFS_SUBCLASSOF, "bnode:r1"),
        t("bnode:r1", RDF_TYPE, OWL_RESTRICTION),
        t("bnode:r1", OWL_NS + "onProperty", PART_OF),
        t("bnode:r1", OWL_NS + "hasSelf", "true", lit=True),
    ]
    got, _ = decoded_set(spark, rows)
    assert (X, PART_OF, X) in got


def test_pato_property_selection(spark):
    # union members that are PATO terms from a non-PATO node → RO_0000086
    rows = [
        t(X, RDF_TYPE, OWL_CLASS),
        t(PATO, RDF_TYPE, OWL_CLASS),
        t(X, RDFS_SUBCLASSOF, "bnode:c1"),
        t("bnode:c1", RDF_TYPE, OWL_CLASS),
        t("bnode:c1", OWL_NS + "intersectionOf", "bnode:l1"),
        t("bnode:l1", RDF_FIRST, PATO),
        t("bnode:l1", RDF_REST, RDF_NIL),
    ]
    got, _ = decoded_set(spark, rows)
    assert (X, RO_0000086, PATO) in got


def test_negation_dropped(spark):
    lacks = OBO + "pr#lacks_part"
    rows = [
        t(X, RDF_TYPE, OWL_CLASS),
        t(Y, RDF_TYPE, OWL_CLASS),
        t(X, RDFS_SUBCLASSOF, "bnode:r1"),
        t("bnode:r1", RDF_TYPE, OWL_RESTRICTION),
        t("bnode:r1", OWL_NS + "onProperty", lacks),
        t("bnode:r1", OWL_NS + "someValuesFrom", Y),
    ]
    got, out = decoded_set(spark, rows)
    assert not any(p == lacks for _, p, _ in got)
    stats = {r.status for r in out["decode_status"].collect()}
    assert "negation" in stats


def test_complement_of_dropped(spark):
    rows = [
        t(X, RDF_TYPE, OWL_CLASS),
        t(Y, RDF_TYPE, OWL_CLASS),
        t(X, RDFS_SUBCLASSOF, "bnode:c1"),
        t("bnode:c1", RDF_TYPE, OWL_CLASS),
        t("bnode:c1", OWL_NS + "complementOf", Y),
    ]
    got, out = decoded_set(spark, rows)
    assert (X, RDFS_SUBCLASSOF, Y) not in got
    stats = {r.status for r in out["decode_status"].collect()}
    assert "complementOf" in stats


def test_axiom_direct_decode(spark):
    rows = [
        t(A, RDF_TYPE, OWL_CLASS),
        t(B, RDF_TYPE, OWL_CLASS),
        t("bnode:ax1", RDF_TYPE, OWL_AXIOM),
        t("bnode:ax1", OWL_NS + "annotatedSource", A),
        t("bnode:ax1", OWL_NS + "annotatedTarget", B),
        t("bnode:ax1", OWL_NS + "annotatedProperty", RDFS_SUBCLASSOF),
    ]
    triples = make_triples(spark, rows)
    roots = {r.root for r in decode_roots(triples).collect()}
    assert "bnode:ax1" in roots
    got, _ = decoded_set(spark, rows)
    assert (A, RDFS_SUBCLASSOF, B) in got


def test_cardinality_captured_not_decoded(spark):
    rows = [
        t(X, RDF_TYPE, OWL_CLASS),
        t(Y, RDF_TYPE, OWL_CLASS),
        t(X, RDFS_SUBCLASSOF, "bnode:r1"),
        t("bnode:r1", RDF_TYPE, OWL_RESTRICTION),
        t("bnode:r1", OWL_NS + "onProperty", PART_OF),
        t("bnode:r1", OWL_NS + "qualifiedCardinality", "2", lit=True),
        t("bnode:r1", OWL_NS + "onClass", Y),
    ]
    got, out = decoded_set(spark, rows)
    assert (X, PART_OF, Y) in got  # onClass target still decoded
    stats = {r.status for r in out["decode_status"].collect()}
    assert "cardinality" in stats


def test_disjoint_with_removed(spark):
    rows = [
        t(A, RDF_TYPE, OWL_CLASS),
        t(B, RDF_TYPE, OWL_CLASS),
        t(A, OWL_NS + "disjointWith", B),
        t(A, RDFS_SUBCLASSOF, B),
    ]
    got, _ = decoded_set(spark, rows)
    assert (A, OWL_NS + "disjointWith", B) not in got
    assert (A, RDFS_SUBCLASSOF, B) in got


def test_make_graph_connected(spark):
    triples = spark.createDataFrame(
        [(A, RDFS_SUBCLASSOF, B), (X, PART_OF, Y)], "s string, p string, o string"
    )
    out = make_graph_connected(triples, "subclass")
    got = {(r.s, r.p, r.o) for r in out.collect()}
    # B is rootless (no subClassOf ancestor) → attached to BFO root
    assert (B, RDFS_SUBCLASSOF, BFO_ROOT) in got
    # A has an ancestor (B) → not attached directly
    assert (A, RDFS_SUBCLASSOF, BFO_ROOT) not in got


def test_purify_subclass(spark):
    triples = spark.createDataFrame(
        [
            (X, RDF_TYPE, A),
            (A, RDFS_SUBCLASSOF, B),
        ],
        "s string, p string, o string",
    )
    out = purify_graph(triples, "subclass")
    got = {(r.s, r.p, r.o) for r in out.collect()}
    # rdf:type rewritten to subClassOf and expanded to object ancestors
    assert (X, RDFS_SUBCLASSOF, A) in got
    assert (X, RDFS_SUBCLASSOF, B) in got
    assert (X, RDF_TYPE, A) not in got


def test_forest_assignment_depth(spark):
    rows = [
        t(X, RDF_TYPE, OWL_CLASS),
        t(X, RDFS_SUBCLASSOF, "bnode:1"),
        t("bnode:1", OWL_NS + "intersectionOf", "bnode:2"),
        t("bnode:2", RDF_FIRST, A),
        t("bnode:2", RDF_REST, "bnode:3"),
        t("bnode:3", RDF_FIRST, B),
        t("bnode:3", RDF_REST, RDF_NIL),
    ]
    triples = make_triples(spark, rows)
    forests = assign_forests(triples, decode_roots(triples))
    x_forest = {
        (r.s, r.p, r.o) for r in forests.filter(F.col("root") == X).collect()
    }
    assert ("bnode:3", RDF_FIRST, B) in x_forest  # depth-3 bnode reached


def test_union_of_twenty_members_fully_decoded(spark):
    # a 20-member rdf:List sits 21 anonymous levels below the root; the
    # whole list must decode, not the prefix a fixed level budget reaches
    members = [OBO + f"M_{i}" for i in range(20)]
    rows = [t(X, RDF_TYPE, OWL_CLASS), t(X, RDFS_SUBCLASSOF, "bnode:c1")]
    rows += [t(m, RDF_TYPE, OWL_CLASS) for m in members]
    rows += [
        t("bnode:c1", RDF_TYPE, OWL_CLASS),
        t("bnode:c1", OWL_NS + "unionOf", "bnode:l0"),
    ]
    for i, m in enumerate(members):
        rest = f"bnode:l{i + 1}" if i < len(members) - 1 else RDF_NIL
        rows += [t(f"bnode:l{i}", RDF_FIRST, m), t(f"bnode:l{i}", RDF_REST, rest)]
    got, _ = decoded_set(spark, rows)
    assert {(m, RDFS_SUBCLASSOF, X) for m in members} <= got


def _chain(spark, n):
    # X → bnode:1 → … → bnode:n → Y: n anonymous levels below the root,
    # n + 2 forest triples (X's rdf:type and subClassOf edges included)
    rows = [t(X, RDF_TYPE, OWL_CLASS), t(X, RDFS_SUBCLASSOF, "bnode:1")]
    rows += [t(f"bnode:{i}", RDF_REST, f"bnode:{i + 1}") for i in range(1, n)]
    rows.append(t(f"bnode:{n}", RDF_FIRST, Y))
    triples = make_triples(spark, rows)
    return triples, spark.createDataFrame([(X,)], "root string")


def test_forest_depth_limit_raises_instead_of_truncating(spark):
    triples, roots = _chain(spark, 6)
    # exactly max_depth anonymous levels still assigns the whole chain
    assert assign_forests(triples, roots, max_depth=6).count() == 8
    with pytest.raises(Exception, match="RECURSION_LEVEL_LIMIT_EXCEEDED"):
        assign_forests(triples, roots, max_depth=5).collect()


def _bfs_forests(rows, roots):
    """Reference forests: each root's out-edges plus the out-edges of every
    anonymous node reachable from it through anonymous nodes."""
    out_edges = {}
    for s, p, o in rows:
        out_edges.setdefault(s, []).append((s, p, o))
    forests = set()
    for root in roots:
        seen, queue = {root}, [root]
        while queue:
            node = queue.pop(0)
            for s, p, o in out_edges.get(node, []):
                forests.add((root, s, p, o))
                if o.startswith(("_:", "bnode:")) and o not in seen:
                    seen.add(o)
                    queue.append(o)
    return forests


@pytest.mark.parametrize(
    "rows,roots",
    [
        # bnode cycle
        ([(X, "p", "_:a"), ("_:a", "q", "_:b"), ("_:b", "r", "_:a"),
          ("_:b", "s", Y)], [X]),
        # one bnode shared by two roots
        ([(X, "p", "_:s"), (Y, "p", "_:s"), ("_:s", "q", A)], [X, Y]),
        # diamond
        ([(X, "p", "_:l"), (X, "p", "_:r"), ("_:l", "q", "_:d"),
          ("_:r", "q", "_:d"), ("_:d", "s", B)], [X]),
        # bnode self-loop, and a bnode root
        ([(X, "p", "_:a"), ("_:a", "q", "_:a"), ("_:a", "r", A),
          ("_:ax", "p", "_:a")], [X, "_:ax"]),
    ],
    ids=["cycle", "shared", "diamond", "self_loop"],
)
def test_assign_forests_matches_bfs(spark, rows, roots):
    triples = spark.createDataFrame(
        [(s, p, o, False) for s, p, o in rows],
        "s string, p string, o string, o_is_literal boolean",
    )
    root_df = spark.createDataFrame([(r,) for r in roots], "root string")
    got = {
        (r.root, r.s, r.p, r.o)
        for r in assign_forests(triples, root_df).collect()
    }
    assert got == _bfs_forests(rows, roots)


def test_assign_forests_is_one_lazy_recursive_plan(spark):
    triples, roots = _chain(spark, 3)
    sc = spark.sparkContext
    group = "assign_forests_plan_probe"
    sc.setJobGroup(group, "no job while building the forest plan")
    try:
        forests = assign_forests(triples, roots)
        plan = forests._jdf.queryExecution().optimizedPlan().toString()
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert "UnionLoop" in plan
        assert forests.count() == 5
        assert sc.statusTracker().getJobIdsForGroup(group) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
