"""Seeded input generators for the three workloads.

Every generator is a pure function of (seed, size): the same arguments give
byte-identical files. Each writes its ground truth next to the input
(`truth.json`), taken from the generator's own choices, never from the
program under test.

    python3 perfbench/gen.py osm    <seed> <out_dir> [mb]
    python3 perfbench/gen.py corpus <seed> <out_dir> [n_docs]
    python3 perfbench/gen.py tables <seed> <out_dir> [sf]
"""
import datetime
import json
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write_parquet(table, path):
    # pinned writer settings: the same data always gives the same bytes
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


def _write_json(obj, path):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, indent=1)


# --------------------------------------------------------------------------
# osm_etl: an OSM XML extract with the reference's dirty-value families
# --------------------------------------------------------------------------

# (dirty suffix, clean suffix): the reference's street mapping plus suffixes
# that are already canonical (clean == dirty)
STREET_SUFFIXES = [
    ("St", "Street"), ("St.", "Street"), ("Ave", "Avenue"), ("Blvd", "Boulevard"),
    ("Rd.", "Road"), ("Rd", "Road"), ("street", "Street"), ("Trl", "Trail"),
    ("Ln", "Lane"), ("Dr", "Drive"), ("Cv", "Cove"), ("Ct", "Court"),
    ("Cc", "Cove"), ("pass", "Pass"), ("Terrance", "Terrace"),
    ("Street", "Street"), ("Avenue", "Avenue"), ("Drive", "Drive"),
    ("Lane", "Lane"), ("Cove", "Cove"), ("Loop", "Loop"), ("Trail", "Trail"),
    ("Way", "Way"), ("Bend", "Bend"), ("Circle", "Circle"),
]
# street values whose last token is neither expected nor mapped: lenient
# cleaning passes them through unchanged
UNMAPPED_STREETS = ["Ranch Road 620", "FM 1825", "County Road 109", "Highway 95"]
STREET_NAMES = [
    "Main", "Oak", "Pecan", "Cedar Elm", "Live Oak", "Bluebonnet", "Sunset",
    "Hidden Valley", "Lake Creek", "Mesa", "Red Bud", "Old Settlers",
    "North Lamar", "Wells Branch", "Kenney Fort", "Gattis School", "Palm Valley",
    "Brushy Creek", "Arrowhead", "Sam Bass", "Dessau", "Howard", "Parmer",
]
# (dirty city, clean city): first token, 'Round' -> 'Round Rock'
CITIES = [
    ("Elgin", "Elgin"), ("Elgin, TX", "Elgin"), ("Austin", "Austin"),
    ("Austin, TX", "Austin"), ("Round Rock", "Round Rock"),
    ("Round Rock, TX", "Round Rock"), ("Pflugerville", "Pflugerville"),
    ("Cedar Park", "Cedar"), ("Manor, Texas", "Manor"), ("Hutto", "Hutto"),
]
STATES = [("TX", "Texas"), ("Texas", "Texas")]
PHONE_FORMATS = [
    "+1 ({a}) {b}-{c}", "({a}) {b}-{c}", "{a}.{b}.{c}", "{a}-{b}-{c}",
    "1-{a}-{b}-{c}", "+1 {a} {b} {c}", "{a}{b}{c}",
]
# (raw key, kind) of the extra tag families; kind picks the value generator
PLAIN_KEYS = ["highway", "name", "amenity", "building", "source", "surface",
              "oneway", "lanes", "maxspeed", "shop"]
COLON_KEYS = ["gnis:county_id", "gnis:feature_id", "tiger:county", "tiger:cfcc",
              "tiger:name_base_1", "tiger:zip_left", "name:en", "addr:street:name",
              "fire_hydrant:type", "Addr:Note", "source:geometry"]
PROBLEM_KEYS = ["bad=key", "name.en", "note#1", "addr street", "fix?me",
                "a&b", "wiki;page"]
USERS = ["user_%03d" % i for i in range(400)]

_LOWER_COLON = re.compile(r"^([a-z]|_)+:([a-z]|_)+")
_AFTER_COLON = re.compile(r"(:([a-z]|_)+)?(:([a-z]|_)+)")
_PROBLEM = re.compile(r"[=+/&<>;'\"?%#$@,. \t\r\n]")


def split_key(k):
    """The reference's (key, type) split of a raw tag key."""
    if _LOWER_COLON.match(k):
        return _AFTER_COLON.search(k).group(0)[1:], k.split(":", 1)[0]
    return k, "regular"


_EPOCH = datetime.datetime(2008, 1, 1)


def _ts(seconds):
    return (_EPOCH + datetime.timedelta(seconds=seconds)).strftime("%Y-%m-%dT%H:%M:%SZ")


class _Draws:
    """Uniform draws taken from the generator in blocks: far cheaper than one
    numpy call per value, and still a pure function of the seed."""

    def __init__(self, rng):
        self.rng, self.buf, self.i = rng, np.empty(0), 0

    def random(self):
        if self.i == len(self.buf):
            self.buf, self.i = self.rng.random(1 << 20).tolist(), 0
        self.i += 1
        return self.buf[self.i - 1]

    def integers(self, lo, hi=None):
        if hi is None:
            lo, hi = 0, lo
        return lo + int(self.random() * (hi - lo))


def gen_osm(seed, out_dir, mb=100.0):
    """An .osm file of at least `mb` megabytes plus its truth: per-table row
    counts, the (key, clean value) histogram of every cleaned tag, and the
    tag-type histograms."""
    np_rng = np.random.default_rng([seed, 1])
    rng = _Draws(np_rng)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "map.osm")
    target = int(mb * 1e6)
    rows = {"nodes": 0, "nodes_tags": 0, "ways": 0, "ways_nodes": 0, "ways_tags": 0}
    cleaned = {}
    types = {"nodes_tags": {}, "ways_tags": {}}

    def bump(d, k, n=1):
        d[k] = d.get(k, 0) + n

    def tags_for(count, table):
        out = []
        for _ in range(count):
            fam = rng.integers(0, 10)
            if fam == 0:
                name = STREET_NAMES[rng.integers(len(STREET_NAMES))]
                if rng.random() < 0.08:
                    dirty = UNMAPPED_STREETS[rng.integers(len(UNMAPPED_STREETS))]
                    clean = dirty
                else:
                    suf, csuf = STREET_SUFFIXES[rng.integers(len(STREET_SUFFIXES))]
                    dirty, clean = f"{name} {suf}", f"{name} {csuf}"
                k, v, key, cv = "addr:street", dirty, "street", clean
            elif fam == 1:
                a = ("512", "737")[rng.integers(2)]
                b, c = "%03d" % rng.integers(200, 1000), "%04d" % rng.integers(10000)
                fmt = PHONE_FORMATS[rng.integers(len(PHONE_FORMATS))]
                k = ("phone", "contact:phone")[int(rng.random() < 0.2)]
                v, key, cv = fmt.format(a=a, b=b, c=c), "phone", f"{a}-{b}-{c}"
            elif fam == 2:
                z = "%05d" % rng.integers(78600, 78760)
                form = rng.integers(3)
                v = (z, f"{z}-{rng.integers(1000, 10000)}", f"TX {z}")[form]
                k, key, cv = "addr:postcode", "postcode", z
            elif fam == 3:
                v, cv = STATES[rng.integers(len(STATES))]
                k, key = "addr:state", "state"
            elif fam == 4:
                v, cv = CITIES[rng.integers(len(CITIES))]
                k, key = "addr:city", "city"
            elif fam == 5:
                k, v = "addr:housenumber", str(rng.integers(1, 20000))
                key, cv = None, None
            elif fam in (6, 7):
                k = COLON_KEYS[rng.integers(len(COLON_KEYS))]
                v, key, cv = "v%d" % rng.integers(1000), None, None
            elif fam == 8:
                k = PLAIN_KEYS[rng.integers(len(PLAIN_KEYS))]
                v, key, cv = "v%d" % rng.integers(1000), None, None
            else:
                k = PROBLEM_KEYS[rng.integers(len(PROBLEM_KEYS))]
                v, key, cv = "x", None, None
            out.append(f'    <tag k="{k.replace("&", "&amp;")}" v="{v}"/>\n')
            if _PROBLEM.search(k):
                continue
            skey, stype = split_key(k)
            rows[table] += 1
            bump(types[table], stype)
            if key is not None:
                assert skey == key, (k, skey, key)
                bump(cleaned.setdefault(key, {}), cv)
        return out

    chunks = ['<?xml version="1.0" encoding="UTF-8"?>\n',
              '<osm version="0.6" generator="perfbench">\n',
              '  <bounds minlat="30.1" minlon="-97.9" maxlat="30.6" maxlon="-97.2"/>\n']
    size = sum(len(c) for c in chunks)
    n_nodes = max(1000, target // 210)  # about 85% of the bytes are nodes
    ts_max = 9 * 365 * 86400
    node_ids = 100000000 + np.arange(n_nodes, dtype=np.int64) * 3
    lats = np.round(np_rng.uniform(30.1, 30.6, n_nodes), 7).tolist()
    lons = np.round(np_rng.uniform(-97.9, -97.2, n_nodes), 7).tolist()
    users = (np_rng.zipf(1.3, n_nodes) % len(USERS)).tolist()
    stamps = np_rng.integers(0, ts_max, n_nodes).tolist()
    n_tags = np.where(np_rng.random(n_nodes) < 0.18, np_rng.integers(1, 7, n_nodes), 0).tolist()
    ids = node_ids.tolist()
    stamp_strs = np.datetime_as_string(
        np.datetime64(_EPOCH) + np.array(stamps, "timedelta64[s]"), unit="s").tolist()
    for i in range(n_nodes):
        st = stamps[i]
        head = (f'  <node id="{ids[i]}" lat="{lats[i]}" lon="{lons[i]}" '
                f'version="{1 + st % 7}" timestamp="{stamp_strs[i]}Z" '
                f'changeset="{10000000 + st // 1000}" uid="{users[i] + 1}" user="{USERS[users[i]]}"')
        if n_tags[i]:
            body = [head, ">\n"] + tags_for(int(n_tags[i]), "nodes_tags") + ["  </node>\n"]
        else:
            body = [head, "/>\n"]
        chunks.extend(body)
        size += sum(len(b) for b in body)
    rows["nodes"] = n_nodes
    way_id = 500000000
    while size < target:
        n_nd = int(rng.integers(2, 16))
        refs = [ids[rng.integers(n_nodes)] for _ in range(n_nd)]
        st = rng.integers(ts_max)
        uidx = int(np_rng.zipf(1.3) % len(USERS))
        body = [f'  <way id="{way_id}" version="{1 + st % 5}" timestamp="{_ts(st)}" '
                f'changeset="{10000000 + st // 1000}" uid="{uidx + 1}" user="{USERS[uidx]}">\n']
        body += [f'    <nd ref="{r}"/>\n' for r in refs]
        body += tags_for(int(rng.integers(0, 5)), "ways_tags")
        body.append("  </way>\n")
        chunks.extend(body)
        size += sum(len(b) for b in body)
        rows["ways"] += 1
        rows["ways_nodes"] += n_nd
        way_id += 1
    chunks.append("</osm>\n")
    with open(path, "w", encoding="utf-8") as f:
        f.write("".join(chunks))
    _write_json({"rows": rows, "cleaned": cleaned, "types": types,
                 "bytes": os.path.getsize(path)}, os.path.join(out_dir, "truth.json"))
    return path


# --------------------------------------------------------------------------
# corpus_pipeline: documents with planted duplicates, spam and contamination
# --------------------------------------------------------------------------

# the testdata documents vocabulary, extended with a tail of pseudo-words so
# that unrelated documents rarely share a 4-word shingle
BASE_WORDS = ("spark window merge table column vector stream value data small join "
              "filter big group hash customer sort order slow line part fast row the "
              "agg key query a scan batch").split()
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _vocab():
    # fixed (seed-independent) vocabulary: the language does not change
    # between seeds, only the documents do
    r = np.random.default_rng(7)
    syl = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "da", "qu",
           "ze", "fo", "gri", "bal", "tor", "ven", "sel", "mar", "lin"]
    words = set(BASE_WORDS + STOPWORDS)
    out = BASE_WORDS + STOPWORDS
    while len(out) < 4000:
        w = "".join(syl[j] for j in r.integers(0, len(syl), r.integers(2, 4)))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


SHARES = {"exact_dup": 0.04, "near_dup": 0.04, "spam": 0.03, "contaminated": 0.02}


def gen_corpus(seed, out_dir, n_docs=1500, n_eval=200):
    """`documents.parquet` (the documents schema) and `eval.parquet`, plus the
    planted exact-duplicate groups, near-duplicate pairs, spam ids and
    contaminated ids."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab()
    p = 1.0 / (np.arange(len(vocab)) + 20.0)  # mildly skewed word frequencies
    p /= p.sum()

    def text(n_words):
        return " ".join(vocab[j] for j in rng.choice(len(vocab), size=n_words, p=p))

    def lengths(n):
        return rng.integers(30, 130, n)

    evals = [text(int(n)) for n in lengths(n_eval)]
    texts = [text(int(n)) for n in lengths(n_docs)]
    # planted rows, chosen among distinct positions; each plant copies from a
    # "base" position that is itself never planted
    order = rng.permutation(n_docs)
    counts = {k: int(round(v * n_docs)) for k, v in SHARES.items()}
    cursor = 0

    def take(n):
        nonlocal cursor
        out = order[cursor:cursor + n]
        cursor += n
        return [int(x) for x in out]

    dup_groups = []
    copies = take(counts["exact_dup"])
    while copies:
        k = min(len(copies), int(rng.integers(1, 4)))
        members, copies = copies[:k], copies[k:]
        base = take(1)[0]
        for m in members:
            texts[m] = texts[base]
        dup_groups.append(sorted([base] + members))
    near_pairs = []
    for m in take(counts["near_dup"]):
        base = take(1)[0]
        ws = texts[base].split(" ")
        j = int(rng.integers(0, len(ws)))
        ws[j] = vocab[int(rng.integers(len(vocab)))]
        texts[m] = " ".join(ws)
        near_pairs.append([min(base, m), max(base, m)])
    spam = take(counts["spam"])
    for m in spam:
        phrase = text(int(rng.integers(4, 9)))
        texts[m] = " ".join([phrase] * int(rng.integers(12, 30)))
    contaminated = take(counts["contaminated"])
    for m in contaminated:
        src = evals[int(rng.integers(n_eval))].split(" ")
        j = int(rng.integers(0, len(src) - 12))
        ws = texts[m].split(" ")
        at = int(rng.integers(0, len(ws)))
        texts[m] = " ".join(ws[:at] + src[j:j + 12] + ws[at:])

    def docs_table(ts, ids):
        return pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(ts, pa.string()),
            "lang": pa.array([LANGS[i % len(LANGS)] for i in ids], pa.string()),
            "source": pa.array(["src%d" % (i % 20) for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in ts], pa.int64()),
        })

    os.makedirs(out_dir, exist_ok=True)
    _write_parquet(docs_table(texts, list(range(n_docs))),
                   os.path.join(out_dir, "documents.parquet"))
    _write_parquet(docs_table(evals, list(range(10**9, 10**9 + n_eval))),
                   os.path.join(out_dir, "eval.parquet"))
    _write_json({"n_docs": n_docs, "n_eval": n_eval,
                 "text_bytes": sum(len(t.encode()) for t in texts),
                 "exact_dup_groups": dup_groups, "near_dup_pairs": near_pairs,
                 "spam": sorted(spam), "contaminated": sorted(contaminated)},
                os.path.join(out_dir, "truth.json"))
    return out_dir


# --------------------------------------------------------------------------
# Registry probes: the ten testdata tables (TESTDATA.md schemas) at scale `sf`
# --------------------------------------------------------------------------

def gen_tables(seed, out_dir, sf=0.01):
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n = {
        "customer": int(150000 * sf), "supplier": max(10, int(10000 * sf)),
        "part": int(200000 * sf), "orders": int(1500000 * sf),
        "lineitem": int(6000000 * sf), "events": int(1000000 * sf),
        "documents": max(500, int(50000 * sf)), "embeddings": max(500, int(20000 * sf)),
    }
    day = np.datetime64("1995-01-01")

    def w(name, cols):
        _write_parquet(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    def dates(lo_days, hi_days, k):
        d = day + rng.integers(lo_days, hi_days, k).astype("timedelta64[D]")
        return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))

    w("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                 "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    w("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                 "n_name": ["NATION_%d" % i for i in range(25)],
                 "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    k = n["customer"]
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    w("customer", {"c_custkey": pa.array(np.arange(k), pa.int64()),
                   "c_name": ["Customer#%09d" % i for i in range(k)],
                   "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
                   "c_acctbal": money(-999.99, 9999.99, k),
                   "c_mktsegment": segs[rng.integers(0, 5, k)]})
    k = n["supplier"]
    w("supplier", {"s_suppkey": pa.array(np.arange(k), pa.int64()),
                   "s_name": ["Supplier#%09d" % i for i in range(k)],
                   "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
                   "s_acctbal": money(-999.99, 9999.99, k)})
    k = n["part"]
    adj = ["small", "red", "new", "hot", "cold", "large", "blue", "old"]
    noun = ["ring", "widget", "bolt", "anvil", "rod", "plate", "gear", "nut"]
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    w("part", {"p_partkey": pa.array(np.arange(k), pa.int64()),
               "p_name": ["%s %s" % (adj[a], noun[b]) for a, b in
                          zip(rng.integers(0, 8, k), rng.integers(0, 8, k))],
               "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, k)],
               "p_type": ptypes[rng.integers(0, 6, k)],
               "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
               "p_retailprice": np.round(900 + (np.arange(k) % 1000) / 10.0, 1)})
    k = n["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    w("orders", {"o_orderkey": pa.array(np.arange(k), pa.int64()),
                 "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
                 "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, k)],
                 "o_totalprice": money(1000, 500000, k),
                 "o_orderdate": dates(0, 2405, k),
                 "o_orderpriority": prio[rng.integers(0, 5, k)]})
    k = n["lineitem"]
    qty = rng.integers(1, 51, k).astype(np.float64)
    w("lineitem", {"l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
                   "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
                   "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
                   "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
                   "l_quantity": qty,
                   "l_extendedprice": money(900, 105000, k),
                   "l_discount": np.round(rng.integers(0, 11, k) / 100.0, 2),
                   "l_tax": np.round(rng.integers(0, 9, k) / 100.0, 2),
                   "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, k)],
                   "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, k)],
                   "l_shipdate": dates(1, 2499, k)})
    k = n["events"]
    gaps = rng.exponential(30 * 86400 / k, k)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + \
        np.cumsum(gaps * 1e6).astype(np.int64).astype("timedelta64[us]")
    w("events", {"event_id": pa.array(np.arange(k), pa.int64()),
                 "ts": pa.array(ts, pa.timestamp("us")),
                 "user_id": pa.array(rng.integers(0, max(10, n["customer"] // 10), k), pa.int64()),
                 "event_type": np.array(["click", "error", "purchase", "signup", "view"])
                 [rng.integers(0, 5, k)],
                 "value": np.round(rng.exponential(50, k), 2),
                 "props": ['{"k": %d}' % v for v in rng.integers(0, 100, k)]})
    k = n["documents"]
    words = np.array(BASE_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), m)])
             for m in rng.integers(10, 110, k)]
    for i in rng.choice(k, max(1, k // 20), replace=False):  # near-dup tails
        texts[i] = texts[(i + 1) % k] + " dup"
    for i in rng.choice(k, max(1, k // 600), replace=False):  # exact duplicates
        texts[(i + 7) % k] = texts[i]
    w("documents", {"doc_id": pa.array(np.arange(k), pa.int64()),
                    "text": texts,
                    "lang": np.array(LANGS)[rng.integers(0, len(LANGS), k)],
                    "source": ["src%d" % (i % 20) for i in range(k)],
                    "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    k = n["embeddings"]
    labels = rng.integers(0, 10, k)
    centers = rng.normal(0, 1, (10, 64))
    v = centers[labels] + rng.normal(0, 1.2, (k, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    w("embeddings", {"vec_id": pa.array(np.arange(k), pa.int64()),
                     "embedding": pa.array(list(v), pa.list_(pa.float32())),
                     "label": pa.array(labels, pa.int32())})
    _write_json({"rows": n, "sf": sf}, os.path.join(out_dir, "truth.json"))
    return out_dir


if __name__ == "__main__":
    kind, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    size = float(sys.argv[4]) if len(sys.argv) > 4 else None
    if kind == "osm":
        gen_osm(seed, out, size or 100.0)
    elif kind == "corpus":
        gen_corpus(seed, out, int(size or 8000))
    else:
        gen_tables(seed, out, size or 0.01)
