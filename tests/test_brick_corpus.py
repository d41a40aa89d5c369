"""The reference's two embedded queries (/root/reference/mortar-parquet-client/
client.py:116-140) against the REAL corpus graphs WITH the Brick class
hierarchy loaded (setup-graphs.py:22 parity via resources/brick_subset.ttl),
and against the in-repo Brick-shaped fixture graphs of the sparql_bridges
entry, which need no reference checkout.

Oracle: an independent pure-Python triple matcher in this file — no code
shared with the SPARQL engine — computes the expected binding sets
from the same TTLs; the engine must agree exactly, and bldg1's structural
counts (82 hasTimeseriesId bridges) pin the corpus shape."""

import os

import pytest

from mortar_parquet_support_spark.client import Client
from mortar_parquet_support_spark.sources.ttl import TRIPLES_SCHEMA, parse_ttl

GRAPHS = "/root/reference/mortar-parquet-client/graphs"
ONTOLOGY = os.path.join(
    os.path.dirname(__file__), "..", "mortar_parquet_support_spark", "resources", "brick_subset.ttl"
)
BRICK = "https://brickschema.org/schema/Brick#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_SUB = "http://www.w3.org/2000/01/rdf-schema#subClassOf"

ALL_POINTS = """
    PREFIX brick: <https://brickschema.org/schema/Brick#>
    PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
    PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
    SELECT ?point ?type ?id WHERE {
        ?point rdf:type/rdfs:subClassOf* brick:Point .
        ?point rdf:type ?type .
        ?point brick:timeseries [ brick:hasTimeseriesId ?id ] .
    }
"""

QUERY1 = """
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


# --------------------------------------------------------------------------
# Independent oracle: plain-Python matcher over the parsed triples
# --------------------------------------------------------------------------


class _Oracle:
    def __init__(self, site_rows, onto_rows):
        self.sub: dict[str, set[str]] = {}
        for row in onto_rows + site_rows:
            if row[2] == RDFS_SUB:
                self.sub.setdefault(row[1], set()).add(row[3])
        self.types: dict[str, set[str]] = {}
        self.ts_bnode: dict[str, list[str]] = {}
        self.has_id: dict[str, list[str]] = {}
        self.haspoint: dict[str, set[str]] = {}
        self.terms = {t for row in onto_rows + site_rows for t in (row[1], row[3])}
        for _, s, p, o, _k in site_rows:
            if p == RDF_TYPE:
                self.types.setdefault(s, set()).add(o)
            elif p == BRICK + "timeseries":
                self.ts_bnode.setdefault(s, []).append(o)
            elif p == BRICK + "hasTimeseriesId":
                self.has_id.setdefault(s, []).append(o)
            elif p == BRICK + "hasPoint":
                self.haspoint.setdefault(s, set()).add(o)

    def ancestors(self, cls: str) -> set[str]:
        seen, stack = set(), [cls]
        while stack:
            node = stack.pop()
            if node in seen:
                continue
            seen.add(node)
            stack.extend(self.sub.get(node, ()))
        return seen  # includes cls: zero-length subClassOf* path

    def reaches(self, entity: str, target: str) -> bool:
        return any(target in self.ancestors(t) for t in self.types.get(entity, ()))

    def ids(self, entity: str) -> list[str]:
        return [i for bn in self.ts_bnode.get(entity, ()) for i in self.has_id.get(bn, ())]

    def all_points(self) -> set[tuple]:
        out = set()
        for pt, ts in self.types.items():
            if not self.reaches(pt, BRICK + "Point"):
                continue
            for ident in self.ids(pt):
                for t in ts:
                    out.add((pt, t, ident))
        return out

    def query1(self) -> set[tuple]:
        out = set()
        sens = {p for p in self.types if self.reaches(p, BRICK + "Temperature_Sensor")}
        sps = {p for p in self.types if self.reaches(p, BRICK + "Temperature_Setpoint")}
        for vav, pts in self.haspoint.items():
            if BRICK + "VAV" not in self.types.get(vav, ()):
                continue
            for sen_pt in pts & sens:
                for sp_pt in pts & sps:
                    for si in self.ids(sen_pt):
                        for pi in self.ids(sp_pt):
                            out.add((vav, si, pi))
        return out

    def subclass_star(self) -> set[tuple]:
        """Every (term, ancestor) pair of ``?c rdfs:subClassOf* ?super``."""
        return {(t, a) for t in self.terms for a in self.ancestors(t)}


def _site_rows(site):
    with open(os.path.join(GRAPHS, f"{site}.ttl"), encoding="utf-8") as fh:
        return parse_ttl(fh.read(), site)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = _site_rows("bldg1") + _site_rows("bldg2")
    triples = spark.createDataFrame(rows, schema=TRIPLES_SCHEMA)
    client = Client(spark, triples=triples, ontology_path=ONTOLOGY)
    with open(ONTOLOGY, encoding="utf-8") as fh:
        onto_rows = parse_ttl(fh.read(), "__ontology__")
    oracles = {s: _Oracle(_site_rows(s), onto_rows) for s in ("bldg1", "bldg2")}
    return client, oracles


def test_all_points_matches_independent_matcher(corpus):
    client, oracles = corpus
    df = client.sparql(ALL_POINTS, sites=["bldg1", "bldg2"])
    got = {(r.site, r.point, r.type, r.id) for r in df.collect()}
    want = {
        (s, *t) for s, o in oracles.items() for t in o.all_points()
    }
    assert got == want
    # structural pins: every one of bldg1's 82 bridges is a typed Point
    bldg1_ids = {i for (s, _p, _t, i) in got if s == "bldg1"}
    assert len(bldg1_ids) == 82
    assert len([1 for s, *_ in got if s == "bldg1"]) == 86  # multi-typed points


def test_query1_matches_independent_matcher(corpus):
    client, oracles = corpus
    df = client.sparql(QUERY1, sites=["bldg1", "bldg2"])
    got = {(r.site, r.vav, r.sen, r.sp) for r in df.collect()}
    want = {(s, *t) for s, o in oracles.items() for t in o.query1()}
    assert got == want
    assert len([1 for s, *_ in got if s == "bldg1"]) == 32
    # bldg2 names no brick:VAV entities -> legitimately empty there
    assert not [1 for s, *_ in got if s == "bldg2"]


def test_subclass_closure_through_ontology(corpus):
    client, _ = corpus
    # Zone_Air_Temperature_Sensor reaches Temperature_Sensor and Point
    # through the loaded hierarchy (2 and 3+ hops)
    df = client.sparql(
        """PREFIX brick: <https://brickschema.org/schema/Brick#>
           PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
           SELECT ?super WHERE {
             brick:Zone_Air_Temperature_Sensor rdfs:subClassOf* ?super .
           }"""
    )
    supers = {r.super.split("#")[-1] for r in df.collect()}
    assert {
        "Zone_Air_Temperature_Sensor",
        "Air_Temperature_Sensor",
        "Temperature_Sensor",
        "Sensor",
        "Point",
    } <= supers


def test_ask_construct_describe_on_real_corpus(corpus):
    """The three non-SELECT query forms against the real bldg1 graph, with
    expectations pinned by the independent matcher's structural counts."""
    client, oracles = corpus
    ask = client.sparql(
        """PREFIX brick: <https://brickschema.org/schema/Brick#>
           ASK { ?vav a brick:VAV }""",
        sites=["bldg1"],
    ).collect()
    assert [r.ask for r in ask] == [True]  # ASK keeps its boolean type

    # CONSTRUCT the flattened point->timeseries-id edge; one edge per bridge
    built = client.sparql(
        """PREFIX brick: <https://brickschema.org/schema/Brick#>
           CONSTRUCT { ?p brick:directId ?id }
           WHERE { ?p brick:timeseries [ brick:hasTimeseriesId ?id ] }""",
        sites=["bldg1"],
    ).collect()
    assert len(built) == 82  # bldg1's 82 bridges (test_all_points pin)
    assert all(r.predicate.endswith("directId") for r in built)

    # DESCRIBE one VAV from query1's bindings: outgoing triples only
    vav = sorted({t[0] for t in oracles["bldg1"].query1()})[0]
    desc = client.sparql(f"DESCRIBE <{vav}>", sites=["bldg1"]).collect()
    assert desc and all(r.subject == vav for r in desc)
    preds = {r.predicate.split("#")[-1] for r in desc}
    assert "type" in preds and "hasPoint" in preds


def test_empty_sites_list_returns_empty_frame(corpus):
    # reference parity: sparql(q, sites=[]) -> empty DataFrame, not an error
    client, _ = corpus
    df = client.sparql("SELECT ?s WHERE { ?s ?p ?o }", sites=[])
    assert df.count() == 0


# --------------------------------------------------------------------------
# The same oracle over in-repo graphs: the sparql_bridges fixture sites
# (VAVs with sensors/setpoints at every closure depth, decoys, an orphan
# and an RVAV) with the shipped ontology
# --------------------------------------------------------------------------

SUBCLASS_STAR = """
    PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
    SELECT ?c ?super WHERE { ?c rdfs:subClassOf* ?super . }
"""


@pytest.fixture(scope="module")
def in_repo(spark):
    from mortar_parquet_support_spark.entries.reference_surface import _bridge_site_ttl

    site_rows = {
        s: parse_ttl(_bridge_site_ttl(s, n), s) for s, n in (("siteA", 8), ("siteB", 3))
    }
    triples = spark.createDataFrame(
        site_rows["siteA"] + site_rows["siteB"], schema=TRIPLES_SCHEMA
    )
    client = Client(spark, triples=triples, ontology_path=ONTOLOGY)
    with open(ONTOLOGY, encoding="utf-8") as fh:
        onto_rows = parse_ttl(fh.read(), "__ontology__")
    return client, {s: _Oracle(rows, onto_rows) for s, rows in site_rows.items()}


@pytest.mark.parametrize(
    "query, columns, answer",
    [
        (QUERY1, ("vav", "sen", "sp"), _Oracle.query1),
        (ALL_POINTS, ("point", "type", "id"), _Oracle.all_points),
        (SUBCLASS_STAR, ("c", "super"), _Oracle.subclass_star),
    ],
    ids=["query1", "all_points", "subclass_star"],
)
def test_in_repo_graphs_match_independent_matcher(in_repo, query, columns, answer):
    client, oracles = in_repo
    df = client.sparql(query, sites=["siteA", "siteB"])
    got = {(r.site, *(r[c] for c in columns)) for r in df.collect()}
    want = {(s, *t) for s, o in oracles.items() for t in answer(o)}
    assert got == want
    assert {s for s, *_ in got} == {"siteA", "siteB"}  # neither site is empty
