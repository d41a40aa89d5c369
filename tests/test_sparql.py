"""SPARQL-subset engine golden tests (SURVEY.md §2.4 G1-G8, FIXTURES F3/F5).

Hand-computed expected bindings on a synthetic Brick-shaped fixture, plus the
two real embedded corpus queries (/root/reference/mortar-parquet-client/
client.py:116-140) against the real bldg1 TTL — with expectations derived
structurally (e.g. 82 hasTimeseriesId bridges in bldg1)."""

import pytest

from mortar_parquet_support_spark.plans.closure import closure_pairs
from mortar_parquet_support_spark.plans.sparql import (
    SparqlEngine,
    SparqlUnsupported,
    parse_sparql,
)
from mortar_parquet_support_spark.sources.ttl import TRIPLES_SCHEMA, parse_ttl

BRICK = "https://brickschema.org/schema/Brick#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

FIXTURE_TTL = """
@prefix brick: <https://brickschema.org/schema/Brick#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix b: <urn:b#> .

b:ZTS rdfs:subClassOf b:TS . b:TS rdfs:subClassOf b:Sensor .
b:Sensor rdfs:subClassOf brick:Point .
b:TSP rdfs:subClassOf b:Setpoint . b:Setpoint rdfs:subClassOf brick:Point .

b:vav1 a brick:VAV ; brick:hasPoint b:p1, b:p2 .
b:vav2 a brick:VAV ; brick:hasPoint b:p3 .
b:p1 a b:ZTS ; brick:timeseries [ brick:hasTimeseriesId "11111111-1111-1111-1111-111111111111" ] .
b:p2 a b:TSP ; brick:timeseries [ brick:hasTimeseriesId "22222222-2222-2222-2222-222222222222" ] .
b:p3 a b:TS ; brick:timeseries [ brick:hasTimeseriesId "33333333-3333-3333-3333-333333333333" ] .
b:weird a brick:Point .
"""

FIXTURE_TTL_SITE2 = """
@prefix brick: <https://brickschema.org/schema/Brick#> .
@prefix b: <urn:c#> .
b:pX a brick:Point ; brick:timeseries [ brick:hasTimeseriesId "44444444-4444-4444-4444-444444444444" ] .
"""

PREFIXES = """
PREFIX brick: <https://brickschema.org/schema/Brick#>
PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
PREFIX b: <urn:b#>
"""


@pytest.fixture(scope="module")
def engine(spark):
    rows = parse_ttl(FIXTURE_TTL, "site1") + parse_ttl(FIXTURE_TTL_SITE2, "site2")
    triples = spark.createDataFrame(rows, schema=TRIPLES_SCHEMA)
    return SparqlEngine(triples)


def test_parse_shapes():
    q = parse_sparql(
        PREFIXES
        + """SELECT ?vav ?sen WHERE {
          ?vav a brick:VAV ; brick:hasPoint ?p1, ?p2 .
          ?p1 rdf:type/rdfs:subClassOf* brick:Point .
          ?p1 brick:timeseries [ brick:hasTimeseriesId ?sen ] .
        }"""
    )
    assert q.select == ["vav", "sen"]
    # object list expands to two hasPoint patterns; path to 2 steps; bnode to 2
    kinds = [(p.step.predicate.split("#")[-1], p.step.modifier) for p in q.patterns]
    assert kinds.count(("hasPoint", "")) == 2
    assert ("subClassOf", "*") in kinds
    assert kinds.count(("timeseries", "")) == 1 and ("hasTimeseriesId", "") in kinds


def test_closure(spark, engine):
    edges = [
        (r.subject, r.object)
        for r in engine.triples.collect()
        if r.predicate == RDFS + "subClassOf"
    ]
    pairs = {(s.split("#")[-1], d.split("#")[-1]) for s, d in closure_pairs(edges)}
    assert ("ZTS", "TS") in pairs and ("ZTS", "Sensor") in pairs and ("ZTS", "Point") in pairs
    assert ("TS", "Point") in pairs and ("Setpoint", "Point") in pairs
    assert ("Point", "ZTS") not in pairs


def test_bgp_simple(engine):
    df = engine.sql(PREFIXES + "SELECT ?v WHERE { ?v a brick:VAV . }")
    assert {r.v for r in df.collect()} == {"urn:b#vav1", "urn:b#vav2"}
    # an empty match keeps the projected columns, typed as strings
    empty = engine.sql(
        PREFIXES + "SELECT ?v ?p WHERE { ?v a brick:AHU . ?v brick:hasPoint ?p . }"
    )
    assert empty.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in empty.schema.fields] == [
        ("v", "string"),
        ("p", "string"),
    ]


def test_type_subclass_star(engine):
    df = engine.sql(
        PREFIXES + "SELECT ?p WHERE { ?p rdf:type/rdfs:subClassOf* brick:Point . }"
    )
    got = {r.p.split("#")[-1] for r in df.collect()}
    # zero-length: b:weird (a brick:Point directly); 1+: p1 (ZTS), p2 (TSP), p3 (TS), pX
    assert got == {"p1", "p2", "p3", "weird", "pX"}


def test_blank_node_bridge(engine):
    df = engine.sql(
        PREFIXES
        + "SELECT ?p ?id WHERE { ?p brick:timeseries [ brick:hasTimeseriesId ?id ] . }"
    )
    got = {(r.p.split("#")[-1], r.id[:8]) for r in df.collect()}
    assert got == {("p1", "11111111"), ("p2", "22222222"), ("p3", "33333333"), ("pX", "44444444")}


def test_flagship_vav_query(engine):
    # the reference's query1 (client.py:131-139) against the fixture
    df = engine.sql(
        PREFIXES
        + """SELECT ?vav ?sen ?sp WHERE {
          ?sen_point rdf:type/rdfs:subClassOf* b:Sensor ;
              brick:timeseries [ brick:hasTimeseriesId ?sen ] .
          ?sp_point rdf:type/rdfs:subClassOf* b:Setpoint ;
              brick:timeseries [ brick:hasTimeseriesId ?sp ] .
          ?vav a brick:VAV .
          ?vav brick:hasPoint ?sen_point, ?sp_point .
        }"""
    )
    rows = [(r.vav.split("#")[-1], r.sen[:8], r.sp[:8]) for r in df.collect()]
    assert rows == [("vav1", "11111111", "22222222")]


def test_site_scoping_and_union(engine):
    df_all = engine.sql(PREFIXES + "SELECT ?p WHERE { ?p a brick:Point . }")
    assert {r.p for r in df_all.collect()} == {"urn:b#weird", "urn:c#pX"}
    df_site1 = engine.sql(PREFIXES + "SELECT ?p WHERE { ?p a brick:Point . }", site="site1")
    assert {r.p for r in df_site1.collect()} == {"urn:b#weird"}


def test_select_star_and_distinct(engine):
    df = engine.sql(PREFIXES + "SELECT * WHERE { ?v a brick:VAV ; brick:hasPoint ?p . }")
    assert df.columns == ["v", "p"]
    assert df.count() == 3
    d = engine.sql(PREFIXES + "SELECT DISTINCT ?v WHERE { ?v a brick:VAV ; brick:hasPoint ?p . }")
    assert d.count() == 2


def test_unsupported_raises(engine):
    with pytest.raises(SparqlUnsupported):
        engine.sql(PREFIXES + "SELECT ?v WHERE { SERVICE <http://x> { ?s ?p ?v } }")
    with pytest.raises(SparqlUnsupported):
        engine.sql(PREFIXES + "SELECT ?v WHERE { ?v a brick:VAV } GROUP BY ?v")


def test_filter_comparisons(engine):
    df = engine.sql(
        PREFIXES
        + """SELECT ?p ?id WHERE {
             ?p brick:timeseries [ brick:hasTimeseriesId ?id ] .
             FILTER(strstarts(?id, "1") || strstarts(?id, "3"))
           }"""
    )
    assert {r.id[:8] for r in df.collect()} == {"11111111", "33333333"}
    df2 = engine.sql(
        PREFIXES
        + """SELECT ?p ?id WHERE {
             ?p brick:timeseries [ brick:hasTimeseriesId ?id ] .
             FILTER(?id != "44444444-4444-4444-4444-444444444444")
             FILTER(regex(?p, "urn:b#p[12]"))
           }"""
    )
    assert {r.p.split("#")[-1] for r in df2.collect()} == {"p1", "p2"}


def test_optional(engine):
    # vav2's point p3 has a timeseries id; b:weird has no hasPoint at all —
    # OPTIONAL keeps vavs even if a sub-pattern is absent
    df = engine.sql(
        PREFIXES
        + """SELECT ?v ?id WHERE {
             ?v a brick:VAV .
             OPTIONAL { ?v brick:hasPoint ?p . ?p a b:TS .
                        ?p brick:timeseries [ brick:hasTimeseriesId ?id ] . }
           }"""
    )
    got = {(r.v.split("#")[-1], None if r.id is None else r.id[:8]) for r in df.collect()}
    assert got == {("vav1", None), ("vav2", "33333333")}


def test_union(engine):
    df = engine.sql(
        PREFIXES
        + """SELECT ?x WHERE {
             { ?x a brick:VAV . } UNION { ?x a brick:Point . }
           }"""
    )
    got = {r.x.split("#")[-1] for r in df.collect()}
    assert got == {"vav1", "vav2", "weird", "pX"}


def test_order_limit(engine):
    df = engine.sql(
        PREFIXES
        + """SELECT ?id WHERE {
             ?p brick:timeseries [ brick:hasTimeseriesId ?id ] .
           } ORDER BY DESC(?id) LIMIT 2"""
    )
    assert [r.id[:8] for r in df.collect()] == ["44444444", "33333333"]


def test_real_bldg1_queries(spark):
    rows = parse_ttl(
        open("/root/reference/mortar-parquet-client/graphs/bldg1.ttl").read(), "bldg1"
    )
    engine = SparqlEngine(spark.createDataFrame(rows, schema=TRIPLES_SCHEMA))
    # all_points query (client.py:116-124); the Brick ontology isn't loaded,
    # so subClassOf* matches via the zero-length path only — every point
    # typed directly with ANY type that has a timeseries bridge... the
    # pattern requires rdf:type/<path>* brick:Point, which with no subclass
    # edges means only entities directly typed brick:Point. bldg1 types its
    # points with concrete classes, so the id-bridge count is the robust
    # structural check instead:
    bridges = engine.sql(
        PREFIXES + "SELECT ?p ?id WHERE { ?p brick:timeseries [ brick:hasTimeseriesId ?id ] . }"
    )
    assert bridges.count() == 82  # 82 hasTimeseriesId triples in bldg1.ttl
    vavs = engine.sql(PREFIXES + "SELECT DISTINCT ?vav WHERE { ?vav a brick:VAV . }")
    assert vavs.count() > 0


def test_client_with_ontology(spark, tmp_path):
    """setup-graphs.py:22 parity: an ontology file supplies the subclass
    edges so rdf:type/rdfs:subClassOf* resolves concrete point classes."""
    from mortar_parquet_support_spark.client import Client

    graphs = tmp_path / "graphs"
    graphs.mkdir()
    (graphs / "siteA.ttl").write_text(
        """
@prefix brick: <https://brickschema.org/schema/Brick#> .
@prefix b: <urn:siteA#> .
b:p1 a brick:Zone_Air_Temperature_Sensor ;
    brick:timeseries [ brick:hasTimeseriesId "aaaaaaaa-1111-1111-1111-111111111111" ] .
b:sp1 a brick:Zone_Air_Temperature_Setpoint ;
    brick:timeseries [ brick:hasTimeseriesId "bbbbbbbb-2222-2222-2222-222222222222" ] .
b:vav a brick:VAV ; brick:hasPoint b:p1, b:sp1 .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
brick:Sensor rdfs:subClassOf brick:Point .
"""
    )
    onto = tmp_path / "Brick.ttl"
    onto.write_text(
        """
@prefix brick: <https://brickschema.org/schema/Brick#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
brick:Zone_Air_Temperature_Sensor rdfs:subClassOf brick:Air_Temperature_Sensor .
brick:Air_Temperature_Sensor rdfs:subClassOf brick:Temperature_Sensor .
brick:Zone_Air_Temperature_Setpoint rdfs:subClassOf brick:Temperature_Setpoint .
brick:Temperature_Sensor rdfs:subClassOf brick:Sensor .
brick:Sensor rdfs:subClassOf brick:Point .
"""
    )
    c = Client(spark, graph_dir=str(graphs), ontology_path=str(onto))
    q1 = """
        PREFIX brick: <https://brickschema.org/schema/Brick#>
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        SELECT ?vav ?sen ?sp  WHERE {
        ?sen_point rdf:type/rdfs:subClassOf* brick:Temperature_Sensor ;
            brick:timeseries [ brick:hasTimeseriesId ?sen ] .
        ?sp_point rdf:type/rdfs:subClassOf* brick:Temperature_Setpoint ;
            brick:timeseries [ brick:hasTimeseriesId ?sp ] .
        ?vav a brick:VAV .
        ?vav brick:hasPoint ?sen_point, ?sp_point .
    }"""
    rows = c.sparql(q1, sites=["siteA"]).collect()
    assert len(rows) == 1
    assert rows[0].sen.startswith("aaaaaaaa") and rows[0].sp.startswith("bbbbbbbb")
    assert rows[0].site == "siteA"
    # all-points query (client.py:116-124) now matches through the closure
    pts = c.sparql(
        """PREFIX brick: <https://brickschema.org/schema/Brick#>
           PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
           PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
           SELECT ?point ?id WHERE {
             ?point rdf:type/rdfs:subClassOf* brick:Point .
             ?point brick:timeseries [ brick:hasTimeseriesId ?id ] .
           }"""
    )
    assert {r.id[:8] for r in pts.collect()} == {"aaaaaaaa"}  # setpoint isn't under Point here
    # a triple in both the site graph and the ontology is one solution
    dup = """PREFIX brick: <https://brickschema.org/schema/Brick#>
             PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
             SELECT ?c WHERE { ?c rdfs:subClassOf brick:Point . }"""
    assert [r.c for r in c.sparql(dup, sites=["siteA"]).collect()] == [
        "https://brickschema.org/schema/Brick#Sensor"
    ]
    assert c.sparql(dup).count() == 1


# --------------------------------------------------------------------------
# BIND / VALUES (round-2 subset widening; VERDICT r1 #6)
# --------------------------------------------------------------------------


def test_values_single_var(engine):
    rows = engine.sql(
        PREFIXES
        + """SELECT ?p ?id WHERE {
             ?p brick:timeseries [ brick:hasTimeseriesId ?id ] .
             VALUES ?id { "11111111-1111-1111-1111-111111111111"
                          "33333333-3333-3333-3333-333333333333" }
           } ORDER BY ?id"""
    ).collect()
    assert [(r.p.split("#")[-1], r.id[:8]) for r in rows] == [
        ("p1", "11111111"),
        ("p3", "33333333"),
    ]


def test_values_multi_var_with_undef(engine):
    # UNDEF in a shared column is a wildcard; ?tag is a fresh column
    rows = engine.sql(
        PREFIXES
        + """SELECT ?p ?id ?tag WHERE {
             ?p brick:timeseries [ brick:hasTimeseriesId ?id ] .
             VALUES (?id ?tag) {
               ("11111111-1111-1111-1111-111111111111" "one")
               (UNDEF "any")
             }
           } ORDER BY ?id ?tag"""
    ).collect()
    got = sorted((r.id[:8], r.tag) for r in rows)
    # union scope spans both sites, so site2's 44444444 matches the wildcard
    assert got == [
        ("11111111", "any"),
        ("11111111", "one"),
        ("22222222", "any"),
        ("33333333", "any"),
        ("44444444", "any"),
    ]


def test_values_standalone_group(engine):
    rows = engine.sql(
        'SELECT ?x WHERE { VALUES ?x { "a" "b" } } ORDER BY ?x'
    ).collect()
    assert [r.x for r in rows] == ["a", "b"]


def test_values_iri_entries(engine):
    rows = engine.sql(
        PREFIXES
        + """SELECT ?vav ?p WHERE {
             ?vav brick:hasPoint ?p .
             VALUES ?vav { b:vav2 }
           }"""
    ).collect()
    assert [(r.vav.split("#")[-1], r.p.split("#")[-1]) for r in rows] == [("vav2", "p3")]


def test_bind_concat_and_filter(engine):
    rows = engine.sql(
        PREFIXES
        + """SELECT ?p ?uri WHERE {
             ?p brick:timeseries [ brick:hasTimeseriesId ?id ] .
             BIND(concat("urn:ts/", ?id) AS ?uri)
             FILTER(strstarts(?uri, "urn:ts/1"))
           }"""
    ).collect()
    assert len(rows) == 1
    assert rows[0].p.split("#")[-1] == "p1"
    assert rows[0].uri == "urn:ts/11111111-1111-1111-1111-111111111111"


def test_bind_string_functions(engine):
    rows = engine.sql(
        """SELECT ?a ?b ?c WHERE {
             VALUES ?x { "Hello World" }
             BIND(ucase(?x) AS ?a)
             BIND(strlen(?x) AS ?b)
             BIND(replace(?x, "o", "0") AS ?c)
           }"""
    ).collect()
    assert rows[0].a == "HELLO WORLD"
    assert rows[0].b == "11"
    assert rows[0].c == "Hell0 W0rld"


def test_bind_rejects_rebinding(engine):
    with pytest.raises(SparqlUnsupported):
        engine.sql(
            PREFIXES
            + """SELECT ?p WHERE {
                 ?p brick:timeseries [ brick:hasTimeseriesId ?id ] .
                 BIND("x" AS ?id)
               }"""
        )


def test_minus_removes_matching_bindings(engine):
    # all bridged points MINUS those typed as (transitive) setpoints
    rows = engine.sql(
        PREFIXES
        + """SELECT ?p WHERE {
             ?p brick:timeseries [ brick:hasTimeseriesId ?id ] .
             MINUS { ?p rdf:type/rdfs:subClassOf* b:Setpoint . }
           }"""
    ).collect()
    assert {r.p.split("#")[-1] for r in rows} == {"p1", "p3", "pX"}  # p2 is a TSP


def test_minus_disjoint_domain_removes_nothing(engine):
    rows = engine.sql(
        PREFIXES
        + """SELECT ?vav WHERE {
             ?vav a brick:VAV .
             MINUS { ?other a brick:Point . }
           }"""
    ).collect()
    assert {r.vav.split("#")[-1] for r in rows} == {"vav1", "vav2"}


def test_inverse_path(engine):
    got = engine.sql(
        PREFIXES + "SELECT ?p ?vav WHERE { ?p ^brick:hasPoint ?vav . }"
    ).collect()
    fwd = engine.sql(
        PREFIXES + "SELECT ?p ?vav WHERE { ?vav brick:hasPoint ?p . }"
    ).collect()
    assert {(r.p, r.vav) for r in got} == {(r.p, r.vav) for r in fwd}
    assert len(got) == 3


def test_inverse_closure_descendants(engine):
    rows = engine.sql(
        PREFIXES + "SELECT ?desc WHERE { b:Sensor ^rdfs:subClassOf* ?desc . }"
    ).collect()
    assert {r.desc.split("#")[-1] for r in rows} == {"Sensor", "TS", "ZTS"}


def test_path_alternation(engine):
    rows = engine.sql(
        PREFIXES
        + """SELECT ?x WHERE {
             b:p1 brick:timeseries|rdf:type ?x .
           }"""
    ).collect()
    vals = {r.x.split("#")[-1] for r in rows}
    assert "ZTS" in vals and len(vals) == 2  # the type + the ts bnode


def test_alternation_with_inverse_leg(engine):
    # points reachable from vav1 by hasPoint, plus whatever points at vav1
    rows = engine.sql(
        PREFIXES
        + "SELECT ?x WHERE { b:vav1 brick:hasPoint|^brick:hasPoint ?x . }"
    ).collect()
    assert {r.x.split("#")[-1] for r in rows} == {"p1", "p2"}


def test_closure_over_alternation(engine):
    # (hasPoint|timeseries)* from vav1: zero-length (vav1), its points,
    # and the points' timeseries bnodes — closure over the UNION edge set
    rows = engine.sql(
        PREFIXES
        + "SELECT ?x WHERE { b:vav1 (brick:hasPoint|brick:timeseries)* ?x . }"
    ).collect()
    got = {r.x for r in rows}
    assert {"urn:b#vav1", "urn:b#p1", "urn:b#p2"} <= got
    assert len(got) == 5  # + p1's and p2's skolemized timeseries bnodes
    # strict + excludes the zero-length binding
    plus = engine.sql(
        PREFIXES
        + "SELECT ?x WHERE { b:vav1 (brick:hasPoint|brick:timeseries)+ ?x . }"
    ).collect()
    assert {r.x for r in plus} == got - {"urn:b#vav1"}
    # inverse legs: who reaches p1's bnode chain backwards to the VAV
    back = engine.sql(
        PREFIXES
        + "SELECT ?x WHERE { b:p1 (^brick:hasPoint)+ ?x . }"
    ).collect()
    assert {r.x for r in back} == {"urn:b#vav1"}
    # a modifier on a LEG inside an alternation stays unsupported
    with pytest.raises(SparqlUnsupported):
        engine.sql(PREFIXES + "SELECT ?x WHERE { b:p1 (brick:a*|brick:b) ?x . }")


def test_aggregate_count_group_by(engine):
    rows = engine.sql(
        PREFIXES
        + """SELECT ?vav (COUNT(?p) AS ?n) WHERE {
             ?vav a brick:VAV ; brick:hasPoint ?p .
           } GROUP BY ?vav ORDER BY ?vav"""
    ).collect()
    assert [(r.vav.split("#")[-1], r.n) for r in rows] == [("vav1", "2"), ("vav2", "1")]


def test_aggregate_count_star_and_distinct(engine):
    rows = engine.sql(
        PREFIXES
        + """SELECT (COUNT(*) AS ?rows) (COUNT(DISTINCT ?vav) AS ?vavs) WHERE {
             ?vav brick:hasPoint ?p .
           }"""
    ).collect()
    assert rows[0].rows == "3" and rows[0].vavs == "2"


def test_aggregate_min_max_lexical(engine):
    rows = engine.sql(
        PREFIXES
        + """SELECT (MIN(?id) AS ?lo) (MAX(?id) AS ?hi) WHERE {
             ?p brick:timeseries [ brick:hasTimeseriesId ?id ] .
           }"""
    ).collect()
    assert rows[0].lo.startswith("11111111") and rows[0].hi.startswith("44444444")


def test_aggregate_validation(engine):
    with pytest.raises(ValueError):
        engine.sql(
            PREFIXES
            + "SELECT ?p (COUNT(?id) AS ?n) WHERE { ?vav brick:hasPoint ?p . } GROUP BY ?vav"
        )
    with pytest.raises(SparqlUnsupported):
        engine.sql(PREFIXES + "SELECT ?vav WHERE { ?vav a brick:VAV . } GROUP BY ?vav")


def test_aggregate_having(engine):
    rows = engine.sql(
        PREFIXES
        + """SELECT ?vav (COUNT(?p) AS ?n) WHERE {
             ?vav a brick:VAV ; brick:hasPoint ?p .
           } GROUP BY ?vav HAVING(?n >= 2)"""
    ).collect()
    assert [(r.vav.split("#")[-1], r.n) for r in rows] == [("vav1", "2")]


def test_graph_scoping_by_iri(engine):
    # site2's point is invisible inside GRAPH <urn:site1#>
    rows = engine.sql(
        PREFIXES
        + """SELECT ?id WHERE {
             GRAPH <urn:site1#> { ?p brick:timeseries [ brick:hasTimeseriesId ?id ] . }
           }"""
    ).collect()
    assert {r.id[:8] for r in rows} == {"11111111", "22222222", "33333333"}
    rows2 = engine.sql(
        PREFIXES
        + """SELECT ?id WHERE {
             GRAPH <urn:site2#> { ?p brick:timeseries [ brick:hasTimeseriesId ?id ] . }
           }"""
    ).collect()
    assert {r.id[:8] for r in rows2} == {"44444444"}


def test_graph_variable_binds_graph_iri(engine):
    rows = engine.sql(
        PREFIXES
        + """SELECT ?g ?id WHERE {
             GRAPH ?g { ?p brick:timeseries [ brick:hasTimeseriesId ?id ] . }
           }"""
    ).collect()
    got = {(r.g, r.id[:8]) for r in rows}
    assert got == {
        ("urn:site1#", "11111111"),
        ("urn:site1#", "22222222"),
        ("urn:site1#", "33333333"),
        ("urn:site2#", "44444444"),
    }


def test_graph_joined_with_outer_pattern(engine):
    # outer pattern (union scope) joined against the graph-scoped pattern
    rows = engine.sql(
        PREFIXES
        + """SELECT ?g ?vav ?p WHERE {
             ?vav brick:hasPoint ?p .
             GRAPH ?g { ?p a b:ZTS . }
           }"""
    ).collect()
    assert [(r.g, r.vav.split("#")[-1], r.p.split("#")[-1]) for r in rows] == [
        ("urn:site1#", "vav1", "p1")
    ]


def test_graph_shared_ontology_visible_in_every_graph(spark, tmp_path):
    from mortar_parquet_support_spark.client import Client
    from mortar_parquet_support_spark.sources.ttl import TRIPLES_SCHEMA, parse_ttl

    site_rows = parse_ttl(FIXTURE_TTL, "site1") + parse_ttl(FIXTURE_TTL_SITE2, "site2")
    onto = tmp_path / "onto.ttl"
    onto.write_text(
        "@prefix brick: <https://brickschema.org/schema/Brick#> .\n"
        "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .\n"
        "brick:Sensor rdfs:subClassOf brick:Point .\n"
    )
    c = Client(
        spark,
        triples=spark.createDataFrame(site_rows, schema=TRIPLES_SCHEMA),
        ontology_path=str(onto),
    )
    rows = c.sparql(
        PREFIXES
        + """SELECT ?g WHERE {
             GRAPH ?g { brick:Sensor rdfs:subClassOf brick:Point . }
           }"""
    ).collect()
    # the ontology triple is visible inside BOTH named graphs, not as its own
    assert {r.g for r in rows} == {"urn:site1#", "urn:site2#"}


def test_filter_exists_correlated(engine):
    # VAVs that have at least one point typed (transitively) as a sensor
    rows = engine.sql(
        PREFIXES
        + """SELECT ?vav WHERE {
             ?vav a brick:VAV .
             FILTER EXISTS { ?vav brick:hasPoint ?p . ?p rdf:type/rdfs:subClassOf* b:Sensor }
           }"""
    ).collect()
    assert {r.vav.split("#")[-1] for r in rows} == {"vav1", "vav2"}


def test_filter_not_exists_correlated(engine):
    # VAVs with NO setpoint-typed point: vav2 (its only point p3 is a TS)
    rows = engine.sql(
        PREFIXES
        + """SELECT ?vav WHERE {
             ?vav a brick:VAV .
             FILTER NOT EXISTS { ?vav brick:hasPoint ?p . ?p rdf:type/rdfs:subClassOf* b:Setpoint }
           }"""
    ).collect()
    assert {r.vav.split("#")[-1] for r in rows} == {"vav2"}


def test_filter_exists_uncorrelated(engine):
    # uncorrelated NOT EXISTS drops everything iff the inner pattern matches
    # (unlike MINUS, which removes nothing on disjoint domains)
    kept = engine.sql(
        PREFIXES
        + """SELECT ?vav WHERE {
             ?vav a brick:VAV .
             FILTER NOT EXISTS { b:weird a brick:VAV }
           }"""
    ).collect()
    assert {r.vav.split("#")[-1] for r in kept} == {"vav1", "vav2"}
    dropped = engine.sql(
        PREFIXES
        + """SELECT ?vav WHERE {
             ?vav a brick:VAV .
             FILTER NOT EXISTS { b:weird a brick:Point }
           }"""
    ).collect()
    assert dropped == []


def test_filter_exists_inside_nested_group(engine):
    # flatten of a plain nested group must carry the EXISTS filter along
    rows = engine.sql(
        PREFIXES
        + """SELECT ?vav WHERE {
             { ?vav a brick:VAV .
               FILTER EXISTS { ?vav brick:hasPoint ?p . ?p a b:ZTS } }
           }"""
    ).collect()
    assert {r.vav.split("#")[-1] for r in rows} == {"vav1"}


def test_variable_predicate_ground_both(engine):
    rows = engine.sql(PREFIXES + "SELECT ?p WHERE { b:vav1 ?p b:p1 . }").collect()
    assert [r.p for r in rows] == [BRICK + "hasPoint"]


def test_variable_predicate_enumerates_edges(engine):
    rows = engine.sql(PREFIXES + "SELECT ?p ?o WHERE { b:p1 ?p ?o . }").collect()
    got = {(r.p.split("#")[-1], r.o.split("#")[-1]) for r in rows}
    assert ("type", "ZTS") in got
    assert any(p == "timeseries" for p, _ in got)
    assert len(rows) == 2


def test_variable_predicate_distinct_vocabulary(engine):
    rows = engine.sql("SELECT DISTINCT ?p WHERE { ?s ?p ?o . }").collect()
    assert {r.p.split("#")[-1] for r in rows} == {
        "type", "subClassOf", "hasPoint", "timeseries", "hasTimeseriesId",
    }


def test_variable_predicate_joins_with_pattern(engine):
    # which predicates relate a VAV to anything typed as a (transitive) sensor?
    rows = engine.sql(
        PREFIXES
        + """SELECT DISTINCT ?p WHERE {
             ?vav a brick:VAV . ?vav ?p ?x .
             ?x rdf:type/rdfs:subClassOf* b:Sensor .
           }"""
    ).collect()
    assert {r.p for r in rows} == {BRICK + "hasPoint"}


def test_variable_predicate_path_restrictions(engine):
    for q in (
        "SELECT ?s WHERE { ?s ?p* ?o . }",
        "SELECT ?s WHERE { ?s ^?p ?o . }",
        "SELECT ?s WHERE { ?s ?p/rdfs:subClassOf ?o . }",
        "SELECT ?s WHERE { ?s ?p|rdfs:subClassOf ?o . }",
    ):
        with pytest.raises(SparqlUnsupported):
            engine.sql(PREFIXES + q)


def test_arithmetic_in_bind(engine):
    rows = engine.sql(
        PREFIXES
        + """SELECT ?id ?n WHERE {
             b:p1 brick:timeseries [ brick:hasTimeseriesId ?id ] .
             BIND(strlen(?id) * 2 AS ?n)
           }"""
    ).collect()
    assert [(r.id[:2], r.n) for r in rows] == [("11", "72")]


def test_arithmetic_precedence_and_division(engine):
    rows = engine.sql(
        PREFIXES
        + """SELECT ?a ?b ?c WHERE {
             b:vav1 a brick:VAV .
             BIND(2 + 3 * 4 AS ?a)
             BIND((2 + 3) * 4 AS ?b)
             BIND(9 / 2 AS ?c)
           }"""
    ).collect()
    assert [(r.a, r.b, r.c) for r in rows] == [("14", "20", "4.5")]


def test_arithmetic_in_filter(engine):
    rows = engine.sql(
        PREFIXES
        + """SELECT ?p WHERE {
             ?p brick:timeseries [ brick:hasTimeseriesId ?id ] .
             FILTER (strlen(?id) + 4 = 40)
           }"""
    ).collect()
    assert {r.p.split("#")[-1] for r in rows} == {"p1", "p2", "p3", "pX"}
    none = engine.sql(
        PREFIXES
        + """SELECT ?p WHERE {
             ?p brick:timeseries [ brick:hasTimeseriesId ?id ] .
             FILTER (strlen(?id) - 1 > 40)
           }"""
    ).collect()
    assert none == []


def test_arithmetic_unary_minus(engine):
    rows = engine.sql(
        PREFIXES
        + """SELECT ?n WHERE {
             b:vav1 a brick:VAV .
             BIND(- strlen("abc") AS ?n)
           }"""
    ).collect()
    assert [r.n for r in rows] == ["-3"]


def test_subquery_aggregate_joined_to_outer(engine):
    # classic pattern: aggregate in a subquery, enrich in the outer group
    rows = engine.sql(
        PREFIXES
        + """SELECT ?vav ?n WHERE {
             ?vav a brick:VAV .
             { SELECT ?vav (COUNT(?p) AS ?n) WHERE { ?vav brick:hasPoint ?p }
               GROUP BY ?vav }
           }"""
    ).collect()
    assert {(r.vav.split("#")[-1], r.n) for r in rows} == {("vav1", "2"), ("vav2", "1")}


def test_subquery_order_limit(engine):
    # top-1 subquery restricts the outer pattern to the first VAV
    rows = engine.sql(
        PREFIXES
        + """SELECT ?p WHERE {
             { SELECT ?vav WHERE { ?vav a brick:VAV } ORDER BY ?vav LIMIT 1 }
             ?vav brick:hasPoint ?p .
           }"""
    ).collect()
    assert {r.p.split("#")[-1] for r in rows} == {"p1", "p2"}


def test_subquery_projection_hides_inner_vars(engine):
    # ?p is projected away inside; the outer ?p is a fresh variable
    rows = engine.sql(
        PREFIXES
        + """SELECT DISTINCT ?vav ?p WHERE {
             { SELECT ?vav WHERE { ?vav brick:hasPoint ?p } }
             ?vav ?p ?x .
           }"""
    ).collect()
    preds = {r.p.split("#")[-1] for r in rows}
    assert preds == {"type", "hasPoint"}


def test_group_concat_and_sample(engine):
    rows = engine.sql(
        PREFIXES
        + """SELECT ?vav ?points ?one WHERE {
             { SELECT ?vav (GROUP_CONCAT(?p; SEPARATOR=",") AS ?points)
                      (SAMPLE(?p) AS ?one)
               WHERE { ?vav brick:hasPoint ?p } GROUP BY ?vav }
           }"""
    ).collect()
    got = {r.vav.split("#")[-1]: (r.points, r.one) for r in rows}
    assert got["vav1"] == ("urn:b#p1,urn:b#p2", "urn:b#p1")
    assert got["vav2"] == ("urn:b#p3", "urn:b#p3")


def test_group_concat_default_separator_and_distinct(engine):
    rows = engine.sql(
        PREFIXES
        + """SELECT (GROUP_CONCAT(DISTINCT ?t) AS ?types) WHERE {
             ?vav a ?t . ?vav brick:hasPoint ?p .
           }"""
    ).collect()
    assert rows[0].types == BRICK + "VAV"


def test_ask_queries(engine):
    yes = engine.sql(PREFIXES + "ASK { b:vav1 brick:hasPoint b:p1 }").collect()
    assert [r.ask for r in yes] == [True]
    no = engine.sql(PREFIXES + "ASK WHERE { b:vav1 brick:hasPoint b:p3 }").collect()
    assert [r.ask for r in no] == [False]
    typed = engine.sql(
        PREFIXES + "ASK { ?p rdf:type/rdfs:subClassOf* b:Sensor }"
    ).collect()
    assert [r.ask for r in typed] == [True]


def test_construct_basic(engine):
    # rewrite the bnode bridge into a direct edge
    rows = engine.sql(
        PREFIXES
        + """CONSTRUCT { ?p b:directId ?id }
           WHERE { ?p brick:timeseries [ brick:hasTimeseriesId ?id ] }"""
    ).collect()
    assert {(r.subject.split("#")[-1], r.predicate, r.object[:8]) for r in rows} == {
        ("p1", "urn:b#directId", "11111111"),
        ("p2", "urn:b#directId", "22222222"),
        ("p3", "urn:b#directId", "33333333"),
        ("pX", "urn:b#directId", "44444444"),
    }


def test_construct_multi_triple_template_and_optional(engine):
    # two template triples per solution; OPTIONAL-unbound drops its triple
    rows = engine.sql(
        PREFIXES
        + """CONSTRUCT { ?v a b:Box . ?v b:tsOf ?id }
           WHERE {
             ?v a brick:VAV .
             OPTIONAL { ?v brick:hasPoint ?p . ?p a b:TS .
                        ?p brick:timeseries [ brick:hasTimeseriesId ?id ] }
           }"""
    ).collect()
    got = {(r.subject.split("#")[-1], r.predicate.split("#")[-1], r.object.split("#")[-1][:8])
           for r in rows}
    assert got == {
        ("vav1", "type", "Box"),
        ("vav2", "type", "Box"),
        ("vav2", "tsOf", "33333333"),
    }


def test_construct_restrictions(engine):
    with pytest.raises(SparqlUnsupported):
        engine.sql(PREFIXES + "CONSTRUCT { ?p rdf:type/rdfs:subClassOf ?c } WHERE { ?p a ?c }")
    with pytest.raises(SparqlUnsupported):
        engine.sql(PREFIXES + "CONSTRUCT { ?v brick:hasPoint [ a b:X ] } WHERE { ?v a brick:VAV }")
    with pytest.raises(ValueError):
        engine.sql(PREFIXES + "CONSTRUCT { ?v a b:Box . FILTER(?v > 1) } WHERE { ?v a brick:VAV }")


def test_describe_iri(engine):
    rows = engine.sql(PREFIXES + "DESCRIBE b:vav1").collect()
    got = {(r.predicate.split("#")[-1], r.object.split("#")[-1]) for r in rows}
    assert got == {("type", "VAV"), ("hasPoint", "p1"), ("hasPoint", "p2")}
    assert all(r.subject == "urn:b#vav1" for r in rows)


def test_describe_var_with_where(engine):
    # describe every VAV: outgoing triples of vav1 and vav2
    rows = engine.sql(
        PREFIXES + "DESCRIBE ?v WHERE { ?v a brick:VAV }"
    ).collect()
    subs = {r.subject.split("#")[-1] for r in rows}
    assert subs == {"vav1", "vav2"}
    assert len(rows) == 5  # vav1: type + 2 hasPoint; vav2: type + 1 hasPoint


def test_describe_mixed_and_errors(engine):
    rows = engine.sql(
        PREFIXES + "DESCRIBE ?v b:weird WHERE { ?v a brick:VAV }"
    ).collect()
    assert {r.subject.split("#")[-1] for r in rows} == {"vav1", "vav2", "weird"}
    with pytest.raises(ValueError):
        engine.sql(PREFIXES + "DESCRIBE ?v")


def test_filter_in_and_not_in(engine):
    rows = engine.sql(
        PREFIXES
        + """SELECT ?p WHERE {
             ?p a ?t .
             FILTER (?t IN (b:ZTS, b:TSP))
           }"""
    ).collect()
    assert {r.p.split("#")[-1] for r in rows} == {"p1", "p2"}
    rows = engine.sql(
        PREFIXES
        + """SELECT ?p ?id WHERE {
             ?p brick:timeseries [ brick:hasTimeseriesId ?id ] .
             FILTER (?id NOT IN ("11111111-1111-1111-1111-111111111111"))
           }"""
    ).collect()
    assert {r.id[:8] for r in rows} == {"22222222", "33333333", "44444444"}


def test_select_reduced(engine):
    rows = engine.sql(
        PREFIXES + "SELECT REDUCED ?v WHERE { ?v a brick:VAV ; brick:hasPoint ?p . }"
    ).collect()
    assert sorted(r.v.split("#")[-1] for r in rows) == ["vav1", "vav2"]


def test_string_builtins(engine):
    rows = engine.sql(
        PREFIXES
        + """SELECT ?pre ?post ?sub ?e WHERE {
             b:p1 brick:timeseries [ brick:hasTimeseriesId ?id ] .
             BIND(strbefore(?id, "-") AS ?pre)
             BIND(strafter(?id, "-") AS ?post)
             BIND(substr(?id, 1, 4) AS ?sub)
             BIND(strends(?id, "1111") AS ?e)
           }"""
    ).collect()
    r = rows[0]
    assert r.pre == "11111111"
    assert r.post == "1111-1111-1111-111111111111"
    assert r.sub == "1111"
    assert r.e == "true"


def test_numeric_builtins_and_if(engine):
    rows = engine.sql(
        PREFIXES
        + """SELECT ?a ?c ?f ?r ?i ?co WHERE {
             b:vav1 a brick:VAV .
             BIND(abs(- 3.5) AS ?a)
             BIND(ceil(2.1) AS ?c)
             BIND(floor(2.9) AS ?f)
             BIND(round(2.5) AS ?r)
             BIND(IF(1 < 2, "yes", "no") AS ?i)
             BIND(coalesce(?missing, "fallback") AS ?co)
             OPTIONAL { b:vav1 brick:nonexistent ?missing }
           }"""
    ).collect()
    r = rows[0]
    assert (r.a, r.c, r.f, r.r) == ("3.5", "3", "2", "3")
    assert r.i == "yes" and r.co == "fallback"


def test_optional_empty_group_no_shared_vars_null_extends(engine):
    # regression: an OPTIONAL whose inner pattern matches nothing and
    # shares no variables must null-extend, not wipe the outer rows
    rows = engine.sql(
        PREFIXES
        + """SELECT ?v ?m WHERE {
             ?v a brick:VAV .
             OPTIONAL { b:weird brick:hasPoint ?m }
           }"""
    ).collect()
    assert {(r.v.split("#")[-1], r.m) for r in rows} == {("vav1", None), ("vav2", None)}


def test_negated_property_set(engine):
    # every edge out of p1 that is NOT rdf:type: just the timeseries bnode
    rows = engine.sql(PREFIXES + "SELECT ?o WHERE { b:p1 !rdf:type ?o . }").collect()
    assert len(rows) == 1 and rows[0].o.startswith("_:")  # the skolemized bnode
    # multi-member set: neither type nor timeseries leaves nothing for p1
    none = engine.sql(
        PREFIXES + "SELECT ?o WHERE { b:p1 !(rdf:type|brick:timeseries) ?o . }"
    ).collect()
    assert none == []
    # vav1: hasPoint edges survive a !(rdf:type) set
    pts = engine.sql(
        PREFIXES + "SELECT ?o WHERE { b:vav1 !a ?o . }"
    ).collect()
    assert {r.o.split("#")[-1] for r in pts} == {"p1", "p2"}
    for q in (
        "SELECT ?o WHERE { b:p1 !(^rdf:type) ?o . }",
        "SELECT ?o WHERE { b:p1 !rdf:type* ?o . }",
    ):
        with pytest.raises(SparqlUnsupported):
            engine.sql(PREFIXES + q)


def test_not_exists_empty_group_drops_everything(engine):
    # {} evaluates to the unit solution: NOT EXISTS {} is always false
    rows = engine.sql(
        PREFIXES + "SELECT ?v WHERE { ?v a brick:VAV . FILTER NOT EXISTS { } }"
    ).collect()
    assert rows == []
    kept = engine.sql(
        PREFIXES + "SELECT ?v WHERE { ?v a brick:VAV . FILTER EXISTS { } }"
    ).collect()
    assert len(kept) == 2


def test_negated_set_in_construct_template_raises_cleanly(engine):
    with pytest.raises(SparqlUnsupported):
        engine.sql(
            PREFIXES + "CONSTRUCT { ?s !rdf:type ?o } WHERE { ?s a brick:VAV . ?s ?p ?o }"
        )


def test_having_with_direct_aggregate_call(engine):
    # VAVs with more than one point — no alias needed in HAVING
    rows = engine.sql(
        PREFIXES
        + """SELECT ?vav WHERE { ?vav brick:hasPoint ?p }
           GROUP BY ?vav HAVING (COUNT(?p) > 1)"""
    ).collect()
    assert {r.vav.split("#")[-1] for r in rows} == {"vav1"}
    # combined with a selected aggregate and arithmetic
    rows = engine.sql(
        PREFIXES
        + """SELECT ?vav (COUNT(?p) AS ?n) WHERE { ?vav brick:hasPoint ?p }
           GROUP BY ?vav HAVING (COUNT(?p) + 1 >= 2)"""
    ).collect()
    assert {(r.vav.split("#")[-1], r.n) for r in rows} == {("vav1", "2"), ("vav2", "1")}


def test_select_expression_projection(engine):
    rows = engine.sql(
        PREFIXES
        + """SELECT ?p (strlen(?id) AS ?len) (substr(?id, 1, 8) AS ?prefix) WHERE {
             ?p brick:timeseries [ brick:hasTimeseriesId ?id ] .
           }"""
    ).collect()
    assert all(r.len == "36" for r in rows)
    assert {r.prefix for r in rows} == {"11111111", "22222222", "33333333", "44444444"}


def test_select_expression_over_aggregate(engine):
    rows = engine.sql(
        PREFIXES
        + """SELECT ?vav (COUNT(?p) AS ?n) (?n * 10 AS ?scaled)
           WHERE { ?vav brick:hasPoint ?p } GROUP BY ?vav"""
    ).collect()
    assert {(r.vav.split("#")[-1], r.n, r.scaled) for r in rows} == {
        ("vav1", "2", "20"), ("vav2", "1", "10"),
    }


def test_trailing_values_clause(engine):
    rows = engine.sql(
        PREFIXES
        + """SELECT ?vav ?p WHERE { ?vav brick:hasPoint ?p }
           VALUES ?vav { b:vav2 }"""
    ).collect()
    assert {(r.vav.split("#")[-1], r.p.split("#")[-1]) for r in rows} == {("vav2", "p3")}


def test_distinct_numeric_aggregates(engine):
    rows = engine.sql(
        PREFIXES
        + """SELECT (SUM(DISTINCT ?n) AS ?s) (AVG(DISTINCT ?n) AS ?a)
                    (MIN(DISTINCT ?n) AS ?m) WHERE {
             ?vav brick:hasPoint ?p .
             BIND(strlen(?p) - 7 AS ?n)
           }"""
    ).collect()
    # p1,p2,p3 all have strlen 8 -> n = "1" three times; distinct = {1}
    assert [(r.s, r.a, r.m) for r in rows] == [("1.0", "1.0", "1")]


def test_spo_roundtrip_identity(engine):
    """SELECT ?s ?p ?o over the union graph returns exactly the distinct
    triple set the TTL parser loaded — parse, scan, variable predicates,
    and projection compose to the identity."""
    rows = engine.sql("SELECT ?s ?p ?o WHERE { ?s ?p ?o }").collect()
    got = {(r.s, r.p, r.o) for r in rows}
    want = {
        (r.subject, r.predicate, r.object)
        for r in engine.triples.select("subject", "predicate", "object").collect()
    }
    assert got == want and len(rows) == len(got)  # distinct union semantics


# ----------------------------------------------------- round-7 ttl hardening
def test_ttl_escaped_backslash_before_n():
    """\\\\n is backslash + 'n', never a newline (single-pass decoding)."""
    from mortar_parquet_support_spark.sources.ttl import parse_ttl

    ttl = (
        '@prefix ex: <http://ex.org/> .\n'
        'ex:s ex:p "C:\\\\new" .\n'
        'ex:s ex:q "a\\nb" .\n'
        'ex:s ex:r "\\u00e9t\\u00e9" .\n'
    )
    objs = {t[2].split("/")[-1]: t[3] for t in parse_ttl(ttl, site="s")}
    assert objs["p"] == "C:\\new"
    assert objs["q"] == "a\nb"
    assert objs["r"] == "été"


def test_ttl_base_resolution():
    from mortar_parquet_support_spark.sources.ttl import parse_ttl

    ttl = (
        '@base <http://ex.org/bldg/> .\n'
        '@prefix brick: <https://brickschema.org/schema/Brick#> .\n'
        '<ahu1> a brick:AHU .\n'
        '<http://abs.example/x> a brick:VAV .\n'
    )
    triples = parse_ttl(ttl, site="s")
    subjects = {t[1] for t in triples}
    assert "http://ex.org/bldg/ahu1" in subjects  # relative resolved
    assert "http://abs.example/x" in subjects  # absolute untouched


# ------------------------------------------- round-7 sparql semantics fixes
def _mini_engine(spark, site_triples):
    """site_triples: {site: [(s, p, o, okind)]} -> engine."""
    rows = [
        (site, s, p, o, k)
        for site, ts in site_triples.items()
        for (s, p, o, k) in ts
    ]
    return SparqlEngine(spark.createDataFrame(rows, schema=TRIPLES_SCHEMA))


def test_site_scoped_closure_does_not_leak_edges(spark):
    """a->b in s1, b->c in s2: a p+ ?x scoped to s1 must NOT reach c."""
    eng = _mini_engine(
        spark,
        {
            "s1": [("urn:a", "urn:p", "urn:b", "iri")],
            "s2": [("urn:b", "urn:p", "urn:c", "iri")],
        },
    )
    q = "SELECT ?x WHERE { <urn:a> <urn:p>+ ?x }"
    assert {r.x for r in eng.sql(q, site="s1").collect()} == {"urn:b"}
    # unscoped union still traverses both
    assert {r.x for r in eng.sql(q).collect()} == {"urn:b", "urn:c"}


def test_regex_flag_case_insensitive(spark):
    eng = _mini_engine(
        spark, {"s": [("urn:a", "urn:name", "Zone Temp", "literal")]}
    )
    q = 'SELECT ?s WHERE { ?s <urn:name> ?n . FILTER(regex(?n, "zone temp", "i")) }'
    assert [r.s for r in eng.sql(q).collect()] == ["urn:a"]
    q2 = 'SELECT ?s WHERE { ?s <urn:name> ?n . FILTER(regex(?n, "zone temp")) }'
    assert eng.sql(q2).count() == 0  # case-sensitive without the flag


def test_sibling_optionals_fill_unbound_var(spark):
    """SPARQL compatibility: an ?x the first OPTIONAL leaves unbound may be
    filled by the second (null is compatible with anything)."""
    eng = _mini_engine(
        spark,
        {
            "s": [
                ("urn:t1", "urn:type", "urn:T", "iri"),
                ("urn:t2", "urn:type", "urn:T", "iri"),
                ("urn:t1", "urn:p", "urn:v1", "iri"),
                ("urn:t2", "urn:q", "urn:v2", "iri"),
            ]
        },
    )
    q = """SELECT ?s ?x WHERE {
      ?s <urn:type> <urn:T> .
      OPTIONAL { ?s <urn:p> ?x }
      OPTIONAL { ?s <urn:q> ?x }
    }"""
    got = {(r.s, r.x) for r in eng.sql(q).collect()}
    assert got == {("urn:t1", "urn:v1"), ("urn:t2", "urn:v2")}


def test_cycle_path_same_var(spark):
    """?x p+ ?x (cycle detection) must not crash on duplicate columns."""
    eng = _mini_engine(
        spark,
        {
            "s": [
                ("urn:a", "urn:p", "urn:b", "iri"),
                ("urn:b", "urn:p", "urn:a", "iri"),
                ("urn:c", "urn:p", "urn:d", "iri"),
            ]
        },
    )
    q = "SELECT ?x WHERE { ?x <urn:p>+ ?x }"
    assert {r.x for r in eng.sql(q).collect()} == {"urn:a", "urn:b"}
    # a subClassOf cycle terminates, from a bound end and from two free ends
    sub = RDFS + "subClassOf"
    cyc = _mini_engine(
        spark,
        {"s": [("urn:A", sub, "urn:B", "iri"), ("urn:B", sub, "urn:A", "iri")]},
    )
    q = f"SELECT ?d WHERE {{ <urn:A> <{sub}>* ?d }}"
    assert {r.d for r in cyc.sql(q).collect()} == {"urn:A", "urn:B"}
    q = f"SELECT ?c ?d WHERE {{ ?c <{sub}>+ ?d }}"
    assert {(r.c, r.d) for r in cyc.sql(q).collect()} == {
        (a, b) for a in ("urn:A", "urn:B") for b in ("urn:A", "urn:B")
    }


def test_graph_var_reused_in_pattern(spark):
    """GRAPH ?g { ?g ?p ?o } is legal: the graph var doubles as subject —
    and ?g holds ONE value, the graph IRI urn:{site}#, in every position
    (review r14: it previously matched the raw site name inside the
    pattern while reporting the IRI in the projection, so an inner
    FILTER(?g = <urn:g1#>) was silently false)."""
    eng = _mini_engine(
        spark,
        {"g1": [("urn:g1#", "urn:p", "urn:o", "iri")],
         "g2": [("urn:s", "urn:p", "urn:o", "iri")]},
    )
    q = "SELECT ?g ?o WHERE { GRAPH ?g { ?g ?p ?o } }"
    # only g1 has a subject equal to its own graph IRI
    got = {(r.g, r.o) for r in eng.sql(q).collect()}
    assert got == {("urn:g1#", "urn:o")}

    # the value is consistent for inner FILTERs too
    q2 = """SELECT ?s WHERE {
        GRAPH ?g { ?s <urn:p> <urn:o> FILTER(?g = <urn:g2#>) } }"""
    assert {r.s for r in eng.sql(q2).collect()} == {"urn:s"}


def test_paren_negated_set_modifier_raises_unsupported():
    with pytest.raises(SparqlUnsupported):
        parse_sparql("SELECT ?x WHERE { ?x (!<urn:p>)* ?y }")
    with pytest.raises(SparqlUnsupported):
        parse_sparql("SELECT ?x WHERE { ?x ^(!<urn:p>) ?y }")
    with pytest.raises(SparqlUnsupported):
        parse_sparql("SELECT ?x WHERE { ?x <urn:a>|(<urn:b>|<urn:c>) ?y }")


def test_optional_with_nested_optional_null_on_right_side(spark):
    """A shared var left unbound on the OPTIONAL (right) side — via a
    nested OPTIONAL inside that group — must still be compatible with the
    outer binding, not dropped by a plain equi-join."""
    eng = _mini_engine(
        spark,
        {
            "s": [
                ("urn:t1", "urn:type", "urn:T", "iri"),
                ("urn:t1", "urn:p", "urn:v1", "iri"),
                ("urn:t1", "urn:r", "urn:w1", "iri"),
                # r-edge whose subject has NO q-edge: nested OPTIONAL
                # leaves ?x null on the right side of the outer join
            ]
        },
    )
    q = """SELECT ?s ?x ?w WHERE {
      ?s <urn:type> <urn:T> .
      ?s <urn:p> ?x .
      OPTIONAL {
        ?s <urn:r> ?w .
        OPTIONAL { ?w <urn:q> ?x }
      }
    }"""
    got = {(r.s, r.x, r.w) for r in eng.sql(q).collect()}
    # inner OPTIONAL leaves ?x unbound on the right; compatibility keeps
    # the outer ?x=v1 binding and attaches ?w
    assert got == {("urn:t1", "urn:v1", "urn:w1")}


def test_values_fills_optional_null_binding(spark):
    """Review finding r8: an acc-side UNBOUND var (left null by OPTIONAL)
    is compatible with every VALUES row and takes its binding — the
    one-sided UNDEF-wildcard condition silently dropped such rows."""
    eng = _mini_engine(
        spark,
        {
            "s": [
                ("urn:t1", "urn:type", "urn:T", "iri"),
                ("urn:t2", "urn:type", "urn:T", "iri"),
                ("urn:t1", "urn:p", "v1", "literal"),
                # t2 has NO p-edge: OPTIONAL leaves ?x unbound
            ]
        },
    )
    q = """SELECT ?s ?x WHERE {
      ?s <urn:type> <urn:T> .
      OPTIONAL { ?s <urn:p> ?x }
      VALUES ?x { "v1" }
    }"""
    got = {(r.s, r.x) for r in eng.sql(q).collect()}
    # t1's bound x=v1 matches; t2's unbound x is filled with v1
    assert got == {("urn:t1", "v1"), ("urn:t2", "v1")}


def test_bind_alias_null_joins_under_compatibility(spark):
    """Review finding r8: a BIND alias can carry null (here: aliasing an
    OPTIONAL-unbound var); a later group sharing the alias must join under
    compatibility semantics, not drop the null-carrying rows."""
    eng = _mini_engine(
        spark,
        {
            "s": [
                ("urn:t1", "urn:type", "urn:T", "iri"),
                ("urn:t2", "urn:type", "urn:T", "iri"),
                ("urn:t1", "urn:p", "v1", "literal"),
                ("urn:a", "urn:q", "v1", "literal"),
                ("urn:b", "urn:q", "v2", "literal"),
            ]
        },
    )
    q = """SELECT ?s ?y WHERE {
      ?z <urn:q> ?y .
      { SELECT ?s ?y WHERE {
          ?s <urn:type> <urn:T> . OPTIONAL { ?s <urn:p> ?x } BIND(?x AS ?y)
      } }
    }"""
    got = {(r.s, r.y) for r in eng.sql(q).collect()}
    # t1: y=v1 equi-matches z=a. t2: y unbound -> compatible with BOTH
    # q-rows, filled with each binding in turn
    assert got == {("urn:t1", "v1"), ("urn:t2", "v1"), ("urn:t2", "v2")}


def test_grouped_sum_over_nonnumeric_joins_under_compatibility(spark):
    """Review finding r8: SUM/AVG try_cast non-numeric bindings to null,
    so a GROUP whose bindings are ALL non-numeric aggregates to null even
    over a non-null target — the alias must stay nullable and a later
    shared-var join must keep (and fill) that solution."""
    eng = _mini_engine(
        spark,
        {
            "s": [
                ("urn:g1", "urn:p", "abc", "literal"),
                ("urn:g1", "urn:p", "def", "literal"),
                ("urn:g2", "urn:p", "3", "literal"),
                ("urn:x", "urn:q", "anything", "literal"),
            ]
        },
    )
    q = """SELECT ?g ?s ?z WHERE {
      ?z <urn:q> ?s .
      { SELECT ?g (SUM(?v) AS ?s) WHERE { ?g <urn:p> ?v } GROUP BY ?g }
    }"""
    got = {(r.g, r.s, r.z) for r in eng.sql(q).collect()}
    # g1 sums to null (all bindings non-numeric) -> compatible with the
    # q-row and filled; g2 sums to 3 which != 'anything' -> dropped
    assert got == {("urn:g1", "anything", "urn:x")}, got


def test_bind_nonnull_alias_keeps_hash_join(spark):
    """Precision side of the r8 nullability fix: a BIND alias that is
    provably never null (CONCAT over pattern-bound vars) must NOT route
    later joins through the nested-loop compatibility join — the plan
    stays a hash/broadcast equi-join."""
    from tests.conftest import plan_str

    eng = _mini_engine(
        spark,
        {
            "s": [
                ("urn:t1", "urn:p", "v1", "literal"),
                ("urn:a", "urn:q", "v1!", "literal"),
            ]
        },
    )
    q = """SELECT ?s ?y WHERE {
      ?z <urn:q> ?y .
      { SELECT ?s ?y WHERE { ?s <urn:p> ?x . BIND(CONCAT(?x, "!") AS ?y) } }
    }"""
    df = eng.sql(q)
    assert {(r.s, r.y) for r in df.collect()} == {("urn:t1", "v1!")}
    assert "BroadcastNestedLoopJoin" not in plan_str(df), "compat join leaked"


def test_subquery_empty_aggregate_null_joins_under_compatibility(spark):
    """Review finding r8: a global aggregate over an empty solution
    sequence yields one null row; a later pattern sharing the alias must
    treat that null as unbound-compatible, not equi-join it away."""
    eng = _mini_engine(
        spark,
        {
            "s": [
                ("urn:t1", "urn:val", "o1", "literal"),
                ("urn:t2", "urn:val", "o2", "literal"),
            ]
        },
    )
    q = """SELECT ?s ?m WHERE {
      { SELECT (MIN(?x) AS ?m) WHERE { ?s2 <urn:none> ?x } }
      { ?s <urn:val> ?m }
    }"""
    got = {(r.s, r.m) for r in eng.sql(q).collect()}
    # the subquery's single null ?m is compatible with every val-row
    assert got == {("urn:t1", "o1"), ("urn:t2", "o2")}


def test_minus_with_undef_values_inside(spark):
    """VALUES UNDEF inside MINUS: the UNDEF var is unbound on the MINUS
    side, so it is compatible with every outer binding — both subjects
    carrying urn:p must be removed."""
    eng = _mini_engine(
        spark,
        {
            "s": [
                ("urn:t1", "urn:type", "urn:T", "iri"),
                ("urn:t2", "urn:type", "urn:T", "iri"),
                ("urn:t3", "urn:type", "urn:T", "iri"),
                ("urn:t1", "urn:p", "urn:v1", "iri"),
                ("urn:t2", "urn:p", "urn:v2", "iri"),
            ]
        },
    )
    q = """SELECT ?s WHERE {
      ?s <urn:type> <urn:T> .
      OPTIONAL { ?s <urn:p> ?x }
      MINUS { ?s <urn:p> ?y . VALUES ?x { UNDEF } }
    }"""
    got = {r.s for r in eng.sql(q).collect()}
    assert got == {"urn:t3"}


def test_union_branch_gap_var_joins_compatibly(spark):
    """A var projected by only one UNION branch is null in the other
    branch's rows; a later OPTIONAL sharing it must treat that null as
    unbound (compatible), not as a failed equality."""
    eng = _mini_engine(
        spark,
        {
            "s": [
                ("urn:t1", "urn:type", "urn:T", "iri"),
                ("urn:t1", "urn:p", "urn:v1", "iri"),
                ("urn:t1", "urn:q", "urn:v9", "iri"),
            ]
        },
    )
    q = """SELECT ?s ?x WHERE {
      { ?s <urn:type> <urn:T> . ?s <urn:p> ?x } UNION { ?s <urn:type> <urn:T> }
      OPTIONAL { ?s <urn:q> ?x }
    }"""
    got = {(r.s, r.x) for r in eng.sql(q).collect()}
    # branch 1 binds ?x=v1 (q-edge v9 incompatible → left row kept as-is);
    # branch 2 leaves ?x null → filled by the OPTIONAL with v9
    assert got == {("urn:t1", "urn:v1"), ("urn:t1", "urn:v9")}


def test_ttl_urn_base_resolution():
    """urljoin is a no-op for non-hierarchical schemes (urn:) — relative
    IRIs must still resolve against a urn: @base (review finding r8)."""
    rows = parse_ttl("@base <urn:bldg/> . <room1> <urn:p> <o2> .", "s")
    assert rows[0][1] == "urn:bldg/room1"
    assert rows[0][3] == "urn:bldg/o2"
    # fragment-only references attach to the base
    rows = parse_ttl("@base <urn:bldg/floor> . <#r> <urn:p> <urn:o> .", "s")
    assert rows[0][1] == "urn:bldg/floor#r"


def test_ttl_urn_base_rfc3986_merge_forms():
    """RFC 3986 §5.3 merge corners on an opaque base (review finding r8):
    a slashless base path is REPLACED by the ref (not concatenated),
    absolute-path refs replace the whole path, query-only refs keep the
    base path, and dot segments are removed."""
    # slashless opaque base: ref replaces the path entirely
    rows = parse_ttl("@base <urn:isbn:0451450523> . <ch1> <urn:p> <urn:o> .", "s")
    assert rows[0][1] == "urn:ch1"
    # absolute-path ref replaces the base path
    rows = parse_ttl("@base <urn:a/b/c> . </x> <urn:p> <urn:o> .", "s")
    assert rows[0][1] == "urn:/x"
    # query-only ref keeps the full base path
    rows = parse_ttl("@base <urn:a/b?old> . <?q=1> <urn:p> <urn:o> .", "s")
    assert rows[0][1] == "urn:a/b?q=1"
    # dot segments collapse
    rows = parse_ttl("@base <urn:a/b/c> . <../d> <urn:p> <urn:o> .", "s")
    assert rows[0][1] == "urn:a/d"
    rows = parse_ttl("@base <urn:a/b/c> . <./d> <urn:p> <urn:o> .", "s")
    assert rows[0][1] == "urn:a/b/d"


def test_ttl_single_quoted_strings_and_leading_dot_decimal():
    """Docstring-promised forms: 'single'/'''triple''' quoted literals and
    Turtle DECIMALs with no leading digit (review finding r8)."""
    assert parse_ttl("<urn:s> <urn:p> 'hello' .", "s")[0][3] == "hello"
    assert (
        parse_ttl("<urn:s> <urn:p> '''multi\nline''' .", "s")[0][3]
        == "multi\nline"
    )
    assert parse_ttl("<urn:s> <urn:p> 'a\\'b' .", "s")[0][3] == "a'b"
    assert parse_ttl('<urn:s> <urn:p> "it\'s" .', "s")[0][3] == "it's"
    row = parse_ttl("<urn:s> <urn:p> .5 .", "s")[0]
    assert (row[3], row[4]) == (".5", "literal")


def test_uuid_harvest_lowercases_for_lake_match():
    """Review finding r8: ingest stores uuid LOWERCASED, but harvested ids
    kept graph case — an uppercase-hex id (which the case-insensitive
    UUID_RE deliberately accepts) matched zero lake rows with no error."""
    from mortar_parquet_support_spark.client import _harvest_ids

    rows = [("6AF4ADB2-0000-0000-0000-0000000000AB", "not-a-uuid")]
    got = _harvest_ids(rows, ["id", "other"], has_provenance=False)
    assert got == ["6af4adb2-0000-0000-0000-0000000000ab"]

    # review r14: with sites=None a column NAMED site is the user's own
    # variable and must be harvested; only the provenance column is skipped
    rows2 = [("6af4adb2-0000-0000-0000-0000000000ab",)]
    assert len(_harvest_ids(rows2, ["site"], has_provenance=False)) == 1
    assert _harvest_ids(rows2, ["site"], has_provenance=True) == []


def test_sparql_sites_rejects_site_variable_collision(spark, tmp_path):
    """Review finding r8: a query binding ?site had its values silently
    OVERWRITTEN by the provenance column when sites=[...] was passed."""
    from mortar_parquet_support_spark.client import Client
    from mortar_parquet_support_spark.sources.ttl import TRIPLES_SCHEMA

    triples = spark.createDataFrame(
        [("s1", "urn:a", "urn:p", "urn:b", "iri")],
        schema=TRIPLES_SCHEMA,
    )
    c = Client(spark, triples=triples)
    q = "SELECT ?site WHERE { ?site <urn:p> ?o . }"
    with pytest.raises(ValueError, match="site"):
        c.sparql(q, sites=["s1"])
    # without provenance the variable works fine
    assert c.sparql(q).count() == 1


def test_ttl_escaped_trailing_dot_local(spark):
    r"""Review finding r8: the tokenizer stripped backslash-escaped
    trailing dots (PN_LOCAL_ESC) from prefixed-name locals, emitting a
    spurious terminator that failed the whole file on valid Turtle."""
    from mortar_parquet_support_spark.sources.ttl import parse_ttl

    rows = parse_ttl("@prefix ex: <urn:x/> . ex:s ex:p ex:foo\\. .", "s")
    assert rows == [("s", "urn:x/s", "urn:x/p", "urn:x/foo.", "iri")]


def test_ttl_collection_subject(spark):
    """Review finding r8: subject ::= iri | BlankNode | collection in the
    Turtle grammar, but a collection subject raised and aborted the site
    graph."""
    from mortar_parquet_support_spark.sources.ttl import (
        RDF_FIRST,
        parse_ttl,
    )

    rows = parse_ttl("( <urn:a> ) <urn:p> <urn:o> .", "s")
    preds = {p for (_, _, p, _, _) in rows}
    assert RDF_FIRST in preds and "urn:p" in preds
    head = [s for (_, s, p, _, _) in rows if p == "urn:p"]
    assert head and head[0].startswith("_:")


def test_ttl_colonless_base_degrades_not_crashes():
    """Review finding r8: a colon-less @base (malformed per Turtle, which
    requires an absolute IRI) used to crash _rfc3986_resolve with a bare
    ValueError, aborting the whole corpus load. It now degrades like the
    old urljoin path: resolution happens under a stripped pseudo-scheme."""
    rows = parse_ttl("@base <doc/> . <x> <urn:p> <urn:o> .", "s")
    assert rows and rows[0][1] == "doc/x"
    rows = parse_ttl("@base <doc> . <x> <urn:p> <urn:o> .", "s")
    assert rows and rows[0][1] == "x"  # slashless base: ref replaces path


# -------------------------------------------------------- review-r8 fixes
def test_closure_with_both_endpoints_bound(engine):
    """?p and ?c both bound before the closure pattern runs: the closure
    must act as a FILTER on (src, dst) pairs, not duplicate the object
    column (review finding r8 — the svar-only join crashed or dropped the
    destination constraint)."""
    rows = engine.sql(
        PREFIXES
        + """SELECT ?p ?c WHERE {
             ?p a ?c .
             ?c rdfs:subClassOf ?top .
             ?c rdfs:subClassOf* ?top .
           }"""
    ).collect()
    got = {(r.p.split("#")[-1], r.c.split("#")[-1]) for r in rows}
    # every (instance, class) whose class has a superclass — the closure
    # (zero-or-more) trivially readmits each direct pair
    assert ("p1", "ZTS") in got and ("p2", "TSP") in got


def test_string_escapes_decode_to_real_characters(spark):
    """FILTER literals with \\n/\\t/\\uXXXX must compare against the REAL
    control characters the Turtle loader stores (review finding r8)."""
    ttl = '@prefix x: <urn:x#> .\nx:s x:label "a\\nb" .\n'
    rows = parse_ttl(ttl, "s1")
    eng = SparqlEngine(spark.createDataFrame(rows, schema=TRIPLES_SCHEMA))
    got = eng.sql(
        'SELECT ?s WHERE { ?s <urn:x#label> ?v . FILTER(?v = "a\\nb") }'
    ).collect()
    assert len(got) == 1 and got[0].s == "urn:x#s"
    # A == 'A'
    ttl2 = '@prefix x: <urn:x#> .\nx:s x:label "A" .\n'
    eng2 = SparqlEngine(
        spark.createDataFrame(parse_ttl(ttl2, "s1"), schema=TRIPLES_SCHEMA)
    )
    got2 = eng2.sql(
        'SELECT ?s WHERE { ?s <urn:x#label> ?v . FILTER(?v = "\\u0041") }'
    ).collect()
    assert len(got2) == 1


def test_order_by_numeric_aggregate_sorts_numerically(engine):
    """DESC(?n) over COUNT must sort 10 above 9 — lexicographic ordering
    of the stringified count returned the wrong group under LIMIT
    (review finding r8)."""
    rows = engine.sql(
        PREFIXES
        + """SELECT ?c (COUNT(?s) AS ?n) WHERE { ?s a ?c . }
             GROUP BY ?c ORDER BY DESC(?n) ?c"""
    ).collect()
    ns = [int(r.n) for r in rows]
    assert ns == sorted(ns, reverse=True)


def test_order_by_numeric_sort_regression(spark):
    """Direct 9-vs-10 regression: build 10 instances of one class and 9 of
    another; LIMIT 1 must return the 10."""
    ttl = "@prefix x: <urn:x#> .\n"
    for i in range(10):
        ttl += f"x:a{i} a x:Big .\n"
    for i in range(9):
        ttl += f"x:b{i} a x:Small .\n"
    eng = SparqlEngine(
        spark.createDataFrame(parse_ttl(ttl, "s"), schema=TRIPLES_SCHEMA)
    )
    rows = eng.sql(
        "SELECT ?c (COUNT(?s) AS ?n) WHERE { ?s a ?c . } "
        "GROUP BY ?c ORDER BY DESC(?n) LIMIT 1"
    ).collect()
    assert rows[0].c == "urn:x#Big" and rows[0].n == "10"


def test_minus_before_optional_textual_order(spark):
    """A MINUS written before an OPTIONAL must not see the optional's
    binding (left-to-right algebra, review finding r8)."""
    ttl = (
        "@prefix x: <urn:x#> .\n"
        'x:s1 x:p "o1" ; x:q "kill" ; x:r "v1" .\n'
        'x:s2 x:p "o2" ; x:r "v2" .\n'
    )
    eng = SparqlEngine(
        spark.createDataFrame(parse_ttl(ttl, "s"), schema=TRIPLES_SCHEMA)
    )
    q = """SELECT ?s WHERE {
        ?s <urn:x#p> ?o .
        MINUS { ?s <urn:x#q> ?v . }
        OPTIONAL { ?s <urn:x#r> ?v . }
    }"""
    got = {r.s for r in eng.sql(q).collect()}
    # MINUS applies on domain {s} only: s1 has a :q triple -> removed,
    # even though its optional ?v ('v1') differs from the :q value
    assert got == {"urn:x#s2"}
    # written AFTER the optional, ?v participates in compatibility and
    # s1 survives ('v1' != 'kill')
    q2 = """SELECT ?s WHERE {
        ?s <urn:x#p> ?o .
        OPTIONAL { ?s <urn:x#r> ?v . }
        MINUS { ?s <urn:x#q> ?v . }
    }"""
    got2 = {r.s for r in eng.sql(q2).collect()}
    assert got2 == {"urn:x#s1", "urn:x#s2"}


def test_filter_in_coerces_numerics_like_equals(spark):
    ttl = '@prefix x: <urn:x#> .\nx:s x:v "1.0" .\n'
    eng = SparqlEngine(
        spark.createDataFrame(parse_ttl(ttl, "s"), schema=TRIPLES_SCHEMA)
    )
    base = "SELECT ?s WHERE { ?s <urn:x#v> ?x . FILTER(%s) }"
    eq = eng.sql(base % "?x = 1").count()
    inn = eng.sql(base % "?x IN (1, 2)").count()
    assert eq == inn == 1
    assert eng.sql(base % "?x NOT IN (1, 2)").count() == 0


def test_filter_bare_builtin_call(engine):
    """'FILTER bound(?x)' / 'FILTER regex(...)' without outer parens —
    Constraint ::= BrackettedExpression | BuiltInCall (review finding r8)."""
    rows = engine.sql(
        PREFIXES
        + """SELECT ?vav ?p WHERE {
             ?vav a brick:VAV .
             OPTIONAL { ?vav brick:hasPoint ?p . }
             FILTER bound(?p)
           }"""
    ).collect()
    assert len(rows) == 3
    rows2 = engine.sql(
        PREFIXES
        + 'SELECT ?vav WHERE { ?vav a brick:VAV . FILTER regex(?vav, "vav1") }'
    ).collect()
    assert len(rows2) == 1


def test_lex_error_is_loud_not_silent(engine):
    # unterminated string: the stray '"' matches no token class; finditer
    # silently skipped it (parsing a DIFFERENT query), anchored match raises
    with pytest.raises(ValueError, match="lex error"):
        engine.sql('SELECT ?x WHERE { ?x a "abc . }')
    with pytest.raises(ValueError, match="lex error"):
        engine.sql("SELECT ?x WHERE { ?x & ?y . }")


def test_whitespace_free_comparisons_lex(spark):
    ttl = '@prefix x: <urn:x#> .\nx:s x:a "1" ; x:b "2" .\n'
    eng = SparqlEngine(
        spark.createDataFrame(parse_ttl(ttl, "s"), schema=TRIPLES_SCHEMA)
    )
    q = ("SELECT ?s WHERE { ?s <urn:x#a> ?x ; <urn:x#b> ?y . "
         "FILTER(?x<?y&&?y>?x) }")
    assert eng.sql(q).count() == 1


def test_language_tagged_literal_matches_stored_form(spark):
    """The TTL loader stores "Zone"@en as the bare lexical 'Zone'; the
    SPARQL literal "Zone"@en must match it (review finding r8: '@en'
    surfaced as a bogus-subject parse error)."""
    ttl = '@prefix x: <urn:x#> .\nx:s x:label "Zone"@en .\n'
    eng = SparqlEngine(
        spark.createDataFrame(parse_ttl(ttl, "s"), schema=TRIPLES_SCHEMA)
    )
    got = eng.sql(
        'SELECT ?s WHERE { ?s <urn:x#label> "Zone"@en . }'
    ).collect()
    assert len(got) == 1
    got2 = eng.sql(
        'SELECT ?s WHERE { ?s <urn:x#label> ?v . FILTER(?v = "Zone"@en) }'
    ).collect()
    assert len(got2) == 1


def test_graph_var_empty_group_binds_per_graph(engine):
    """GRAPH ?g {} — the unit solution per named graph, ?g bound (review
    finding r8: the clause was silently skipped and SELECT failed)."""
    rows = engine.sql("SELECT ?g WHERE { GRAPH ?g { } }").collect()
    assert {r.g for r in rows} == {"urn:site1#", "urn:site2#"}


def test_order_by_numeric_select_expr_alias(spark):
    """Second pass of the numeric-ORDER-BY fix: a computed (expr AS ?n)
    alias is string-typed before the numeric snapshot runs — its numeric
    origin must be recorded or DESC(?n) LIMIT 1 returns '4' over '10'."""
    ttl = '@prefix x: <urn:x#> .\nx:a x:v "2" .\nx:b x:v "5" .\n'
    eng = SparqlEngine(
        spark.createDataFrame(parse_ttl(ttl, "s"), schema=TRIPLES_SCHEMA)
    )
    rows = eng.sql(
        "SELECT ?s (?v * 2 AS ?n) WHERE { ?s <urn:x#v> ?v . } "
        "ORDER BY DESC(?n) LIMIT 1"
    ).collect()
    assert rows[0].s == "urn:x#b" and rows[0].n == "10"  # not '4'


def test_whitespace_free_numeric_comparisons_lex(spark):
    """FILTER(?x<2&&?y>1): the '<2&&?y>' span contains a connective —
    must lex as comparisons, not one IRIREF."""
    ttl = '@prefix x: <urn:x#> .\nx:s x:a "1" ; x:b "2" .\n'
    eng = SparqlEngine(
        spark.createDataFrame(parse_ttl(ttl, "s"), schema=TRIPLES_SCHEMA)
    )
    q = ("SELECT ?s WHERE { ?s <urn:x#a> ?x ; <urn:x#b> ?y . "
         "FILTER(?x<2&&?y>1) }")
    assert eng.sql(q).count() == 1


def test_filter_typed_and_boolean_literals(spark):
    """Review r14: "5"^^xsd:integer and bare true/false were accepted in
    triple/VALUES positions but aborted the parse inside FILTER/BIND."""
    eng = _mini_engine(
        spark,
        {"s": [("urn:a", "urn:v", "5", "literal"),
               ("urn:b", "urn:flag", "true", "literal")]},
    )
    q = ('PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> '
         'SELECT ?s WHERE { ?s <urn:v> ?x FILTER(?x = "5"^^xsd:integer) }')
    assert {r.s for r in eng.sql(q).collect()} == {"urn:a"}
    q2 = "SELECT ?s WHERE { ?s <urn:flag> ?f FILTER(?f = true) }"
    assert {r.s for r in eng.sql(q2).collect()} == {"urn:b"}


def test_order_by_non_projected_and_bind_numeric(spark):
    """Review r14: ORDER BY on a non-projected variable is legal (the
    spec orders before projection), and a numeric BIND alias must sort
    numerically ('9' < '10'), not lexically."""
    eng = _mini_engine(
        spark,
        {"s": [("urn:a", "urn:v", "5", "literal"),
               ("urn:b", "urn:v", "9", "literal"),
               ("urn:c", "urn:v", "2", "literal")]},
    )
    rows = eng.sql(
        "SELECT ?s WHERE { ?s <urn:v> ?x } ORDER BY DESC(?x) LIMIT 1"
    ).collect()
    assert [r.s for r in rows] == ["urn:b"]
    assert rows[0].asDict().keys() == {"s"}  # sort key not projected
    rows2 = eng.sql(
        "SELECT ?s ?y WHERE { ?s <urn:v> ?x BIND(?x * 2 AS ?y) } "
        "ORDER BY DESC(?y) LIMIT 1"
    ).collect()
    assert rows2[0].s == "urn:b" and rows2[0].y == "18"  # 18 > 10 > 4
    import pytest as _pt

    with _pt.raises(ValueError, match="DISTINCT"):
        eng.sql(
            "SELECT DISTINCT ?s WHERE { ?s <urn:v> ?x } ORDER BY ?x"
        )


def test_nested_group_filter_scopes_to_its_group(spark):
    """Review r14: { ?s :p ?x { ?s :q ?y FILTER(?x > 5) } } — the inner
    FILTER's ?x is out of scope per the spec (error -> false), so the
    query is empty; flattening previously hoisted the filter into the
    parent where the outer ?x satisfied it."""
    eng = _mini_engine(
        spark,
        {"s": [("urn:a", "urn:p", "9", "literal"),
               ("urn:a", "urn:q", "1", "literal")]},
    )
    q = ("SELECT ?s WHERE { ?s <urn:p> ?x "
         "{ ?s <urn:q> ?y FILTER(?x > 5) } }")
    # the engine's strictness contract: an out-of-scope filter variable
    # rejects LOUDLY (the spec's silent error->false is arguably worse
    # for a user who mis-scoped a filter); what must never happen is the
    # old behavior — hoisting the filter into the parent where the outer
    # ?x binding satisfied it and rows silently flowed
    import pytest as _pt

    with _pt.raises(ValueError, match="unbound"):
        eng.sql(q).collect()
    # without the out-of-scope filter the join itself matches
    q2 = "SELECT ?s WHERE { ?s <urn:p> ?x { ?s <urn:q> ?y } }"
    assert eng.sql(q2).count() == 1


def test_strbefore_strafter_null_propagates(spark):
    """Review r14: STRBEFORE/STRAFTER of an unbound (NULL) input is a
    type error per spec — the engine must yield NULL (unbound), never
    the '' a no-hit on a PRESENT string yields."""
    eng = _mini_engine(
        spark,
        {"s": [("urn:a", "urn:t", "x-y", "literal"),
               ("urn:b", "urn:other", "z", "literal")]},
    )
    q = ("SELECT ?s ?b WHERE { ?s ?p ?o "
         "OPTIONAL { ?s <urn:t> ?t } BIND(STRBEFORE(?t, \"-\") AS ?b) }")
    got = {(r.s, r.b) for r in eng.sql(q).collect()}
    assert ("urn:a", "x") in got
    assert ("urn:b", None) in got  # unbound in, unbound out — never ''


def test_ttl_generated_bnodes_cannot_collide_with_labeled(spark):
    """Review r14: a document's OWN label '_:gen1' must stay distinct
    from the first anonymous [ ... ] node (their skolem names previously
    collided, merging two RDF nodes)."""
    from mortar_parquet_support_spark.sources.ttl import parse_ttl

    ttl = (
        "@prefix x: <urn:x#> .\n"
        "_:gen1 x:kind x:labeled .\n"
        "x:s x:attached [ x:kind x:anon ] .\n"
    )
    triples = parse_ttl(ttl, "s")
    subjects_by_kind = {}
    for _site, s, p, o, _k in triples:
        if p == "urn:x#kind":
            subjects_by_kind[o] = s
    assert subjects_by_kind["urn:x#labeled"] != subjects_by_kind["urn:x#anon"]
