"""Seeded input generators for the benchmark workloads.

Everything here is pure Python/NumPy/PyArrow and runs before any timed or
set-up phase: the program under test only ever sees the files written here.
The same seed always produces byte-identical inputs, and each generator also
returns the facts the workloads check outputs against (row counts per stream
and window, planted duplicates, quarantined lines).
"""

from __future__ import annotations

import bisect
import json
import os
import random
import uuid as uuidlib
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

BRICK = "https://brickschema.org/schema/Brick#"
EPOCH = datetime(2021, 3, 1, tzinfo=timezone.utc)

# classes are deliberately subclasses, so the SPARQL rdfs:subClassOf* paths
# must walk the shipped ontology to find them
SENSOR_CLASS = "Zone_Air_Temperature_Sensor"
SETPOINT_CLASS = "Zone_Air_Temperature_Setpoint"
AHU_SENSOR_CLASS = "Supply_Air_Temperature_Sensor"


def _uuid(rng: random.Random) -> str:
    return str(uuidlib.UUID(int=rng.getrandbits(128), version=4))


# ---------------------------------------------------------------------------
# Lake: Brick-shaped site graphs + one CSV per stream
# ---------------------------------------------------------------------------


@dataclass
class Stream:
    uuid: str
    site: str
    label: str
    times: list  # sorted epoch seconds actually present in the CSV


@dataclass
class Vav:
    iri: str
    sensor: str  # stream uuid of the zone temperature sensor
    setpoint: str  # stream uuid of the zone temperature setpoint


@dataclass
class Site:
    name: str
    vavs: list = field(default_factory=list)
    ahu_streams: list = field(default_factory=list)


@dataclass
class LakePlan:
    sites: list
    streams: dict  # uuid -> Stream
    windows: list  # [(start_iso, end_iso, start_s, end_s)]

    def count(self, uuids, window) -> int:
        """Rows of ``uuids`` inside the inclusive ``window``."""
        lo, hi = window[2], window[3]
        n = 0
        for u in uuids:
            t = self.streams[u].times
            n += bisect.bisect_right(t, hi) - bisect.bisect_left(t, lo)
        return n

    def query1_uuids(self, site: str) -> list:
        """Stream ids the reference QUERY1 harvests for one site."""
        s = next(s for s in self.sites if s.name == site)
        return sorted({u for v in s.vavs for u in (v.sensor, v.setpoint)})


def _iso(ts: int) -> str:
    return (EPOCH + timedelta(seconds=ts - int(EPOCH.timestamp()))).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


def plan_lake(
    seed: int,
    *,
    n_sites: int,
    vavs_per_site: int,
    ahus_per_site: int,
    days: int,
    step_s: int,
    n_windows: int,
    gap_share: float = 0.05,
    site_prefix: str = "site",
) -> LakePlan:
    """Sites with VAVs (one zone sensor + one setpoint each) and AHUs
    (one supply-air sensor each); every point has a regular series with a
    seeded ``gap_share`` of readings missing, so per-window counts differ
    between streams. Windows are one day long with seeded hour offsets."""
    rng = random.Random(seed)
    t0 = int(EPOCH.timestamp())
    span = days * 86400
    streams: dict = {}
    sites = []

    def series(site, label):
        u = _uuid(rng)
        times = [t for t in range(t0, t0 + span, step_s) if rng.random() >= gap_share]
        streams[u] = Stream(u, site, label, times)
        return u

    for si in range(n_sites):
        site = Site(f"{site_prefix}{si:02d}")
        for vi in range(vavs_per_site):
            iri = f"urn:{site.name}#vav{vi:03d}"
            site.vavs.append(
                Vav(
                    iri,
                    series(site.name, f"{site.name}/vav{vi:03d}/zat"),
                    series(site.name, f"{site.name}/vav{vi:03d}/zatsp"),
                )
            )
        for ai in range(ahus_per_site):
            site.ahu_streams.append(series(site.name, f"{site.name}/ahu{ai}/sat"))
        sites.append(site)
    windows = []
    for _ in range(n_windows):
        start = t0 + rng.randrange(0, span - 86400, 3600)
        end = start + 86400 - 1
        windows.append((_iso(start), _iso(end), start, end))
    return LakePlan(sites, streams, windows)


def site_ttl(site: Site) -> str:
    """One Brick site graph in Turtle: VAVs with hasPoint edges to typed
    points, each point carrying a timeseries blank node with its stream id.
    AHU points are typed but hang off an AHU, so QUERY1 must skip them."""
    out = [
        f"@prefix brick: <{BRICK}> .",
        "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .",
        f"@prefix : <urn:{site.name}#> .",
        "",
    ]
    for i, v in enumerate(site.vavs):
        out += [
            f":vav{i:03d} a brick:VAV ; brick:hasPoint :vav{i:03d}_zat, :vav{i:03d}_zatsp .",
            f":vav{i:03d}_zat a brick:{SENSOR_CLASS} ; "
            f'brick:timeseries [ brick:hasTimeseriesId "{v.sensor}" ] .',
            f":vav{i:03d}_zatsp a brick:{SETPOINT_CLASS} ; "
            f'brick:timeseries [ brick:hasTimeseriesId "{v.setpoint}" ] .',
        ]
    for i, u in enumerate(site.ahu_streams):
        out += [
            f":ahu{i} a brick:AHU ; brick:hasPoint :ahu{i}_sat .",
            f":ahu{i}_sat a brick:{AHU_SENSOR_CLASS} ; "
            f'brick:timeseries [ brick:hasTimeseriesId "{u}" ] .',
        ]
    return "\n".join(out) + "\n"


def write_graphs(plan: LakePlan, graph_dir: str) -> None:
    os.makedirs(graph_dir, exist_ok=True)
    for site in plan.sites:
        with open(os.path.join(graph_dir, f"{site.name}.ttl"), "w") as fh:
            fh.write(site_ttl(site))


def write_stream_csv(stream: Stream, csv_dir: str, rng: random.Random) -> int:
    """One ``<uuid>.csv`` in the reference's F1 shape; returns its bytes."""
    import numpy as np

    # "YYYY-MM-DDTHH:MM:SS" -> "YYYY-MM-DD HH:MM:SS+00:00"
    stamps = np.datetime_as_string(np.asarray(stream.times, dtype="datetime64[s]"), unit="s")
    values = 20.0 + 5 * np.random.default_rng(rng.getrandbits(64)).random(len(stream.times))
    lines = [f"datetime,{stream.label}"] + [
        f"{ts[:10]} {ts[11:]}+00:00,{v:.4f}" for ts, v in zip(stamps.tolist(), values.tolist())
    ]
    data = ("\n".join(lines) + "\n").encode()
    with open(os.path.join(csv_dir, f"{stream.uuid}.csv"), "wb") as fh:
        fh.write(data)
    return len(data)


def write_site_csvs(plan: LakePlan, site: str, csv_dir: str, seed: int) -> int:
    """CSV files for every stream of ``site``; returns total bytes."""
    os.makedirs(csv_dir, exist_ok=True)
    rng = random.Random(f"{seed}:{site}")
    return sum(
        write_stream_csv(s, csv_dir, rng)
        for s in sorted(plan.streams.values(), key=lambda s: s.uuid)
        if s.site == site
    )


POINT_QUERY = """
PREFIX brick: <https://brickschema.org/schema/Brick#>
PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
SELECT ?sen WHERE {
    <%s> brick:hasPoint ?sen_point .
    ?sen_point rdf:type/rdfs:subClassOf* brick:Temperature_Sensor ;
        brick:timeseries [ brick:hasTimeseriesId ?sen ] .
}"""

# the reference's QUERY1 (mortar-parquet-client/client.py)
QUERY1 = """
PREFIX brick: <https://brickschema.org/schema/Brick#>
PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
SELECT ?vav ?sen ?sp WHERE {
    ?sen_point rdf:type/rdfs:subClassOf* brick:Temperature_Sensor ;
        brick:timeseries [ brick:hasTimeseriesId ?sen ] .
    ?sp_point rdf:type/rdfs:subClassOf* brick:Temperature_Setpoint ;
        brick:timeseries [ brick:hasTimeseriesId ?sp ] .
    ?vav a brick:VAV .
    ?vav brick:hasPoint ?sen_point, ?sp_point .
}"""


# ---------------------------------------------------------------------------
# LLM corpus: JSONL with planted corrupt lines, copies, foreign docs and
# eval overlap; plus an embedding table for search
# ---------------------------------------------------------------------------

EN_MARKERS = ["the", "and", "of", "to", "is", "in", "that", "it", "for", "was"]
DE_MARKERS = ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "sich"]
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]


def _pseudo_words(rng: random.Random, n: int, prefix: str = "") -> list:
    words, seen = [], set(EN_MARKERS + DE_MARKERS)
    while len(words) < n:
        w = prefix + "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


@dataclass
class CorpusPlan:
    path: str
    expected: dict  # doc_id -> expected drop_reason (None = kept)
    texts: dict  # doc_id -> text
    quarantined: int
    eval_texts: list


def write_corpus(
    seed: int,
    path: str,
    *,
    n_docs: int,
    copy_share: float = 0.08,
    near_share: float = 0.08,
    foreign_share: float = 0.04,
    contaminated_share: float = 0.03,
    n_corrupt: int = 3,
) -> CorpusPlan:
    """A JSONL corpus of ``n_docs`` parseable docs plus ``n_corrupt``
    malformed lines. Originals draw from a large pseudo-word vocabulary
    mixed with English markers, so they are English and pairwise far apart;
    planted exact and near copies (one word changed) carry larger ids than
    their original, foreign docs use German markers, and contaminated docs
    embed a 6-word run of an eval text, whose words never occur elsewhere."""
    rng = random.Random(seed)
    vocab = _pseudo_words(rng, 4000)
    eval_vocab = _pseudo_words(rng, 200, prefix="q")
    eval_texts = [" ".join(rng.choice(eval_vocab) for _ in range(30)) for _ in range(8)]

    def body(markers):
        n = rng.randint(40, 70)
        return " ".join(
            rng.choice(markers) if rng.random() < 0.3 else rng.choice(vocab) for _ in range(n)
        )

    n_copy = int(n_docs * copy_share)
    n_near = int(n_docs * near_share)
    n_foreign = int(n_docs * foreign_share)
    n_cont = int(n_docs * contaminated_share)
    n_orig = n_docs - n_copy - n_near - n_foreign - n_cont
    docs, expected = [], {}
    for i in range(n_orig):
        docs.append((i, body(EN_MARKERS)))
        expected[i] = None
    next_id = n_orig
    for _ in range(n_foreign):
        docs.append((next_id, body(DE_MARKERS)))
        expected[next_id] = "language"
        next_id += 1
    for _ in range(n_cont):
        ev = rng.choice(eval_texts).split()
        at = rng.randrange(0, len(ev) - 6)
        words = body(EN_MARKERS).split()
        cut = rng.randrange(0, len(words))
        docs.append((next_id, " ".join(words[:cut] + ev[at : at + 6] + words[cut:])))
        expected[next_id] = "contaminated"
        next_id += 1
    originals = list(range(n_orig))
    for _ in range(n_copy):
        src = rng.choice(originals)
        docs.append((next_id, docs[src][1]))
        expected[next_id] = "near_duplicate"
        next_id += 1
    for _ in range(n_near):
        src = rng.choice(originals)
        words = docs[src][1].split()
        words[-1] = rng.choice(vocab)
        docs.append((next_id, " ".join(words)))
        expected[next_id] = "near_duplicate"
        next_id += 1
    lines = [json.dumps({"doc_id": i, "text": t, "source": "crawl"}) for i, t in docs]
    corrupt = ['{"doc_id": 1, "text": "trunc', "not json at all", '{"doc_id": "x", "text": 5}']
    for c in corrupt[:n_corrupt]:
        lines.insert(rng.randrange(0, len(lines)), c)
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return CorpusPlan(path, expected, dict(docs), n_corrupt, eval_texts)


def write_embeddings(seed: int, path: str, *, n: int, dim: int, n_queries: int, batches: int):
    """A clustered float64 embedding table as parquet plus ``batches``
    query batches drawn near the cluster centres; returns
    (corpus matrix, [query matrices])."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(32, dim))
    vecs = centres[rng.integers(0, 32, size=n)] + 0.6 * rng.normal(size=(n, dim))
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float64())),
        }
    )
    pq.write_table(table, path)
    queries = [
        centres[rng.integers(0, 32, size=n_queries)] + 0.6 * rng.normal(size=(n_queries, dim))
        for _ in range(batches)
    ]
    return vecs, queries
