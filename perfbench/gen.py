"""Seeded input generators: the synthetic OSM PBF, the serve query pool,
the batch geocode request table and the ``documents`` table of the
bulk curate phase.

Everything here is pure Python driven by ``random.Random(seed)``, so the
same seed and sizes give byte-identical inputs. The program under test
only ever sees the outputs (a ``.osm.pbf`` file, HTTP request bodies,
a request DataFrame, a ``documents.parquet`` file).

The PBF holds three kinds of entity, in disjoint id ranges so a
``feature_id``'s numeric part names one feature:

- POI nodes with a name, a POI class key, an address and sometimes
  importance tags. A share has no class key or no name, so the
  gazetteer build must drop them;
- POI ways: closed rings of untagged geometry nodes, tagged as named
  POIs (malls, parks), whose centroid comes from the node join;
- admin relations (countries at level 2, cities at level 8) whose
  members are untagged ring ways around the area.

Planted POIs carry a unique made-up word, so an exact query for one
has exactly one candidate in the token-contains scan, and its name is
the expected top hit.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

# (name, name:en, iso, centre lat, centre lon, half-extent in degrees)
COUNTRIES = [
    ("Malaysia", "Malaysia", "MY", 4.2105, 101.9758, 3.0),
    ("Singapura", "Singapore", "SG", 1.3521, 103.8198, 0.3),
    ("Brunei", "Brunei Darussalam", "BN", 4.5353, 114.7277, 0.6),
]
# (name, country index, centre lat, centre lon, half-extent in degrees);
# each city's square lies inside its country's square
CITIES = [
    ("Kuala Lumpur", 0, 3.1390, 101.6869, 0.25),
    ("George Town", 0, 5.4141, 100.3288, 0.15),
    ("Johor Bahru", 0, 1.4927, 103.7414, 0.20),
    ("Ipoh", 0, 4.5975, 101.0901, 0.15),
    ("Melaka", 0, 2.1896, 102.2501, 0.15),
    ("Woodlands", 1, 1.4382, 103.7890, 0.05),
    ("Bandar Seri Begawan", 2, 4.9031, 114.9398, 0.10),
]

# filler vocabulary; "jalan" is the broad token (in about a third of
# names, an assumed share, so a bare "jalan" query reaches the
# 10,000-row scan cap)
BROAD_TOKEN = "jalan"
WORDS = [
    "kedai", "warung", "plaza", "centre", "bukit", "lorong", "uptown",
    "taman", "pasar", "restoran", "hotel", "masjid", "kopitiam", "mamak",
    "sekolah", "klinik", "farmasi", "bengkel", "dobi", "kafe", "pusat",
    "medan", "seri", "indah", "jaya", "baru", "lama", "utama", "permai",
    "damai", "emas", "mutiara", "cahaya", "harmoni", "sentosa", "makmur",
]
CLASSES = [
    ("amenity", ["restaurant", "cafe", "fast_food", "bank", "pharmacy", "clinic"]),
    ("shop", ["supermarket", "convenience", "bakery", "hardware", "mall"]),
    ("tourism", ["hotel", "museum", "attraction", "guest_house"]),
    ("leisure", ["park", "sports_centre", "playground"]),
    ("office", ["company", "government", "ngo"]),
]
_ONSETS = ["b", "d", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z", "ch", "sh"]
_VOWELS = ["a", "e", "i", "o", "u"]
_CODAS = ["", "", "n", "r", "l", "x"]

NODE_ID0 = 1
WAY_ID0 = 50_000_000
REL_ID0 = 90_000_000


def _pseudo_word(rng: random.Random, syllables: int = 3) -> str:
    return "".join(
        rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(syllables)
    ) + rng.choice(_CODAS)


def _unique_words(rng: random.Random, n: int, taken: set[str]) -> list[str]:
    """``n`` distinct made-up words (>= 7 letters), none a substring of
    another, of a vocabulary word or of a word in ``taken``, so each
    matches by token-contains only where it is planted."""
    out: list[str] = []
    others = list(taken) + WORDS
    while len(out) < n:
        w = _pseudo_word(rng, 3 + rng.randint(0, 1))
        if len(w) < 7 or any(w in v or v in w for v in others):
            continue
        out.append(w)
        others.append(w)
    return out


@dataclass(frozen=True)
class Planted:
    osm_id: int
    name: str  # raw name tag (title case); the expected top hit
    word: str  # the unique token
    country: int  # index into COUNTRIES
    city: int | None  # index into CITIES when placed inside a city


@dataclass
class OsmData:
    """Entities in the shapes ``sources.osmpbf_write.write_pbf`` takes,
    plus what a correct build must produce from them."""

    nodes: list = field(default_factory=list)
    ways: list = field(default_factory=list)
    relations: list = field(default_factory=list)
    planted: list[Planted] = field(default_factory=list)
    expected_pois: int = 0
    expected_admin: int = 0

    @property
    def n_entities(self) -> int:
        return len(self.nodes) + len(self.ways) + len(self.relations)


def _title(words: list[str]) -> str:
    return " ".join(w.capitalize() for w in words)


def _ring(rng, lat, lon, half, n_vertices):
    """Closed ring of (lat, lon) vertices around a centre."""
    pts = []
    for k in range(n_vertices):
        a = k / n_vertices
        # square-ish ring with a little jitter
        if a < 0.25:
            p = (lat - half, lon - half + 8 * half * a)
        elif a < 0.5:
            p = (lat - half + 8 * half * (a - 0.25), lon + half)
        elif a < 0.75:
            p = (lat + half, lon + half - 8 * half * (a - 0.5))
        else:
            p = (lat + half - 8 * half * (a - 0.75), lon - half)
        pts.append((p[0] + rng.uniform(-half, half) * 0.01, p[1] + rng.uniform(-half, half) * 0.01))
    return pts


RING_VERTICES = 8  # untagged nodes per POI polygon


def osm_data(seed: int, n_poi_nodes: int, n_poi_ways: int, n_planted: int) -> OsmData:
    """Synthetic OSM entities. Sizes: ``n_poi_nodes`` tagged POI-candidate
    nodes (some are not POIs), ``n_poi_ways`` POI polygons of
    ``RING_VERTICES`` untagged nodes each, and one relation per country
    and city, each with a 4-way boundary ring. ``n_planted`` of the POI
    nodes carry a unique word and are recorded in ``planted``."""
    rng = random.Random(seed)
    d = OsmData()
    next_node = NODE_ID0
    next_way = WAY_ID0

    def add_node(lat, lon, tags):
        nonlocal next_node
        d.nodes.append((next_node, round(lat, 7), round(lon, 7), tags))
        next_node += 1
        return next_node - 1

    def place(country_i, city_i):
        if city_i is not None:
            _, _, clat, clon, half = CITIES[city_i]
        else:
            _, _, _, clat, clon, half = COUNTRIES[country_i]
        # stay clear of the edge: the admin bbox comes from jittered rings
        half *= 0.95
        return clat + rng.uniform(-half, half), clon + rng.uniform(-half, half)

    def where():
        if rng.random() < 0.6:
            city_i = rng.randrange(len(CITIES))
            return CITIES[city_i][1], city_i
        return rng.randrange(len(COUNTRIES)), None

    def poi_tags(name_words, country_i, city_i, with_class=True):
        tags: dict[str, str] = {"name": _title(name_words)}
        if rng.random() < 0.25:
            tags["name:en"] = _title(name_words[::-1])
        if with_class:
            cls, vals = rng.choice(CLASSES)
            tags[cls] = rng.choice(vals)
        if rng.random() < 0.15:
            tags["wikidata"] = f"Q{rng.randint(1000, 999999)}"
        if rng.random() < 0.1:
            tags["website"] = "https://example.com"
        if city_i is not None:
            tags["addr:city"] = CITIES[city_i][0]
        tags["addr:country"] = COUNTRIES[country_i][2]
        return tags

    def filler_words():
        k = rng.randint(1, 3)
        ws = rng.sample(WORDS, k)
        if rng.random() < 0.33:
            ws.insert(rng.randrange(len(ws) + 1), BROAD_TOKEN)
        ws.append(str(rng.randint(1, 999)))
        return ws

    uniq = _unique_words(rng, n_planted, set())
    planted_slots = set(rng.sample(range(n_poi_nodes), len(uniq)))
    u = iter(uniq)
    for i in range(n_poi_nodes):
        country_i, city_i = where()
        lat, lon = place(country_i, city_i)
        if i in planted_slots:
            word = next(u)
            words = [rng.choice(WORDS), word, rng.choice(WORDS)]
            tags = poi_tags(words, country_i, city_i)
            nid = add_node(lat, lon, tags)
            d.planted.append(Planted(nid, tags["name"], word, country_i, city_i))
            d.expected_pois += 1
            continue
        r = rng.random()
        if r < 0.08:  # no POI class key: not a POI
            add_node(lat, lon, poi_tags(filler_words(), country_i, city_i, False))
        elif r < 0.12:  # class key but no name: not a POI
            cls, vals = rng.choice(CLASSES)
            add_node(lat, lon, {cls: rng.choice(vals)})
        elif r < 0.14:  # empty name and no name:en: not a POI
            tags = poi_tags(filler_words(), country_i, city_i)
            tags["name"] = ""
            tags.pop("name:en", None)
            add_node(lat, lon, tags)
        else:
            add_node(lat, lon, poi_tags(filler_words(), country_i, city_i))
            d.expected_pois += 1

    # POI polygons: untagged ring nodes + one closed tagged way each
    for _ in range(n_poi_ways):
        country_i, city_i = where()
        lat, lon = place(country_i, city_i)
        refs = [add_node(a, b, {}) for a, b in _ring(rng, lat, lon, 0.002, RING_VERTICES)]
        tags = poi_tags(filler_words(), country_i, city_i)
        d.ways.append((next_way, refs + refs[:1], tags))
        next_way += 1
        d.expected_pois += 1

    # admin relations: 4 untagged boundary ways around each area
    next_rel = REL_ID0
    areas = [(n, en, 2, iso, lat, lon, h) for n, en, iso, lat, lon, h in COUNTRIES]
    areas += [(n, None, 8, None, lat, lon, h) for n, _c, lat, lon, h in CITIES]
    for name, name_en, level, iso, lat, lon, half in areas:
        ring = [add_node(a, b, {}) for a, b in _ring(rng, lat, lon, half, 8)]
        members = []
        for k in range(4):
            seg = ring[2 * k : 2 * k + 3] if k < 3 else ring[6:] + ring[:1]
            d.ways.append((next_way, seg, {}))
            members.append(("way", "outer", next_way))
            next_way += 1
        tags = {
            "type": "boundary",
            "boundary": "administrative",
            "admin_level": str(level),
            "name": name,
        }
        if name_en:
            tags["name:en"] = name_en
        if iso:
            tags["ISO3166-1"] = iso
        d.relations.append((next_rel, members, tags))
        next_rel += 1
        d.expected_admin += 1
    return d


# ------------------------------------------------------------ query pool

# class → share of requests; the stratified schedule below repeats
# blocks of 20 requests with exactly these counts. The shares, the
# Zipf exponent of repeats and the broad token's share of names are
# assumptions, not taken from a query log: the benchmark reports the
# p50 of every class on its own so that no conclusion rests on them.
SERVE_MIX = {
    "exact": 5,
    "fuzzy": 3,
    "city": 3,
    "country": 2,
    "broad": 3,
    "nohit": 2,
    "punct": 2,
}
POOL_SIZE = 6000  # distinct texts; above the scorer's lru_cache(4096)
ZIPF_S = 1.1  # skew of the within-class pick: popular queries repeat
_PUNCT = ["!!!", "...", "- - -", "?!", "#@&", "***", "(( ))", "~~ ::"]


@dataclass(frozen=True)
class Query:
    klass: str
    body: dict  # the JSON request body
    expect: str | None = None  # expected top-hit name, for exact queries


def _fuzz(rng: random.Random, p: Planted) -> str:
    """Near miss: a truncated unique word plus one of the other words,
    reordered, with random case and punctuation."""
    other = [w for w in p.name.lower().split() if w != p.word]
    s = f"{rng.choice(other)} {p.word[: max(4, len(p.word) - 2)]}"
    if rng.random() < 0.5:
        s = s.upper()
    return s + rng.choice(["", ",", ".", "!"])


def query_pool(seed: int, planted: list[Planted], limit: int = 5) -> dict[str, list[Query]]:
    """Distinct request bodies per class, about ``POOL_SIZE`` in total in
    proportion to ``SERVE_MIX``."""
    rng = random.Random(seed)
    total = sum(SERVE_MIX.values())
    pool: dict[str, list[Query]] = {}
    nohit = iter(_unique_words(rng, POOL_SIZE * SERVE_MIX["nohit"] // total, {p.word for p in planted}))
    for klass, share in SERVE_MIX.items():
        n = POOL_SIZE * share // total
        seen: set[str] = set()
        items: list[Query] = []
        attempts = 0
        while len(items) < n and attempts < 20 * n:
            attempts += 1
            p = rng.choice(planted)
            body: dict = {"limit": limit}
            expect = None
            if klass == "exact":
                text = p.name
                expect = p.name
            elif klass == "fuzzy":
                text = _fuzz(rng, p)
            elif klass == "city":
                # two filler words: tens of candidates in any city, so
                # requests of a class cost about the same
                text = " ".join(rng.sample(WORDS, 2))
                body["city_hint"] = rng.choice(CITIES)[0]
            elif klass == "country":
                text = " ".join(rng.sample(WORDS, 2))
                c = rng.choice(COUNTRIES)
                body["country"] = c[0] if rng.random() < 0.5 else c[1]
            elif klass == "broad":
                # distinct raw texts that all normalize to the broad token
                text = "".join(c.upper() if rng.random() < 0.3 else c for c in BROAD_TOKEN)
                text += rng.choice(["", ".", "!", ","]) + " " * rng.randint(0, 40)
            elif klass == "nohit":
                text = f"{next(nohit)} {rng.choice(WORDS)}"
            else:
                text = " ".join(rng.sample(_PUNCT, 2)) + " " * rng.randint(0, 40)
            body["candidates"] = [{"text": text}]
            key = repr(sorted(body.items()))
            if key in seen:
                continue
            seen.add(key)
            items.append(Query(klass, body, expect))
        pool[klass] = items
    return pool


# the class of each request in a block of 20: the same order for every
# seed, so runs differ in the texts sent, not in how heavy requests
# happen to bunch up
BLOCK = [
    "exact", "broad", "fuzzy", "city", "nohit", "exact", "country", "punct",
    "fuzzy", "broad", "exact", "city", "exact", "nohit", "country", "fuzzy",
    "broad", "punct", "city", "exact",
]
assert sorted(BLOCK) == sorted(k for k, c in SERVE_MIX.items() for _ in range(c))


def request_schedule(seed: int, pool: dict[str, list[Query]], n: int) -> list[Query]:
    """``n`` requests: repeated ``BLOCK``s of classes (exact ``SERVE_MIX``
    counts) and, within a class, a Zipf-skewed pick so popular queries
    repeat."""
    rng = random.Random(seed * 7919 + 1)
    weights = {
        k: [1.0 / (r + 1) ** ZIPF_S for r in range(len(v))] for k, v in pool.items()
    }
    return [rng.choices(pool[k], weights=weights[k])[0] for k in (BLOCK * (n // len(BLOCK) + 1))[:n]]


# --------------------------------------------------------- batch requests

BATCH_MIX = {"exact": 6, "exact_country": 3, "common": 2, "nohit": 1}


def batch_requests(seed: int, planted: list[Planted], n: int) -> tuple[list[tuple], dict[int, str]]:
    """(req_id, query, country) rows for ``forward_geocode_batch`` plus
    req_id → expected top-hit name for the planted ones. Whole-token
    queries only: the batch path matches tokens through the inverted
    index, not substrings."""
    rng = random.Random(seed * 104729 + 3)
    block = [k for k, c in BATCH_MIX.items() for _ in range(c)]
    rows: list[tuple] = []
    expect: dict[int, str] = {}
    nohit = iter(_unique_words(rng, n, {p.word for p in planted}))
    picks = rng.sample(planted, min(n, len(planted)))
    while len(rows) < n:
        b = block[:]
        rng.shuffle(b)
        for k in b:
            if len(rows) >= n:
                break
            rid = len(rows) + 1
            p = picks[rid % len(picks)]
            if k == "exact":
                rows.append((rid, p.name, None))
                expect[rid] = p.name
            elif k == "exact_country":
                c = COUNTRIES[p.country]
                rows.append((rid, p.name, c[0] if rng.random() < 0.5 else c[1]))
                expect[rid] = p.name
            elif k == "common":
                rows.append((rid, f"{rng.choice(WORDS)} {rng.choice(WORDS)}", None))
            else:
                rows.append((rid, next(nohit), None))
    return rows, expect


# ------------------------------------------------------------ documents

# the shape of the registry's ``documents`` table: 10–100 words from a
# small vocabulary, a language, ``source = "src" + doc_id % 20``, and
# ``n_chars = len(text)``. A share of documents copy an earlier one
# with " dup" appended (near duplicates) or verbatim (exact duplicates).
DOC_VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
DOC_LANGS = {"en": 41, "es": 15, "fr": 15, "zh": 15, "de": 14}
DOC_NEAR_DUP = 0.05
DOC_EXACT_DUP = 0.01


def documents(seed: int, n: int) -> dict[str, list]:
    """Columns of a seeded ``documents`` table of ``n`` rows."""
    rng = random.Random(seed * 15485863 + 5)
    langs = list(DOC_LANGS)
    lang_w = list(DOC_LANGS.values())
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i and r < DOC_NEAR_DUP:
            texts.append(texts[rng.randrange(i)] + " dup")
        elif i and r < DOC_NEAR_DUP + DOC_EXACT_DUP:
            texts.append(texts[rng.randrange(i)])
        else:
            texts.append(" ".join(rng.choices(DOC_VOCAB, k=rng.randint(10, 100))))
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": rng.choices(langs, weights=lang_w, k=n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }


def write_documents(path: str, seed: int, n: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = documents(seed, n)
    schema = pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ])
    pq.write_table(pa.table(cols, schema=schema), path)


def _hashes(seed: int) -> dict[str, str]:
    """sha256 of every input a seed makes: the ``bulk`` PBF bytes and
    request table and documents file, and the ``serve`` request
    schedule."""
    import hashlib
    import json
    import os
    import tempfile

    from perfbench import bulk, common, curate
    from scout_spark.sources.osmpbf_write import write_pbf

    def h(b: bytes) -> str:
        return hashlib.sha256(b).hexdigest()[:16]

    data = osm_data(seed, **bulk.SIZES)
    with tempfile.TemporaryDirectory(dir=".") as d:
        path = os.path.join(d, "x.osm.pbf")
        write_pbf(path, data.nodes, data.ways, data.relations)
        with open(path, "rb") as f:
            pbf = f.read()
        path = os.path.join(d, "documents.parquet")
        write_documents(path, seed, curate.N_DOCS)
        with open(path, "rb") as f:
            docs = f.read()
    rows, expect = batch_requests(seed, data.planted, bulk.N_REQUESTS)
    ds = common.DATASET
    planted = osm_data(ds["seed"], ds["n_poi_nodes"], ds["n_poi_ways"], ds["n_planted"]).planted
    sched = request_schedule(seed, query_pool(seed, planted), 2000)
    return {
        "bulk_pbf": h(pbf),
        "bulk_requests": h(json.dumps([rows, sorted(expect.items())]).encode()),
        "serve_schedule": h(json.dumps([q.body for q in sched]).encode()),
        "bulk_documents": h(docs),
    }


if __name__ == "__main__":
    import argparse
    import sys

    sys.path.insert(0, ".")
    ap = argparse.ArgumentParser(description="print the hashes of a seed's inputs")
    ap.add_argument("--seed", type=int, required=True)
    for k, v in _hashes(ap.parse_args().seed).items():
        print(f"{k} {v}")
