"""Seeded input generator for the Singer-target benchmark.

Every input is synthesised from the seed alone: the same seed writes
byte-identical files, other seeds write inputs of the same sizes. The
tables mimic the TPC-H-like star schema the repository's tests use
(region, nation, supplier, customer, part, orders, lineitem, events) and
the text/vector corpus (documents, embeddings); the program sees only the
files written here.

Each workload directory gets a ``manifest.json`` holding what the checker
compares the program's outputs with: per-stream RECORD counts, the last
STATE value, and an order-independent checksum of the typed rows the
target must write after its documented coercions (a malformed date-time
becomes null; an empty string becomes null for a non-string type).

Usage: python3 perfbench/gen.py --workload singer_tap_sync --seed 7 --out DIR
"""

import argparse
import datetime
import hashlib
import json
import os
import random

EPOCH = datetime.datetime(1970, 1, 1)

TAP_SYNC_RECORDS = 40_000
# the tap-sync lines split in arrival order for the micro-batch phase
MICRO_BATCH_FILES = 20
STATE_EVERY = 10_000
DOCS = 6_000
DOC_DELTAS = 3
DOC_DELTA_SIZE = 400
DOC_DELETES = 150
EMBED_DIM = 16
SEARCH_QUERIES = 40

# Row-count skew of the testdata tables at sf0.1 (lineitem 600k ... region
# 5); the tap-sync streams keep these shares, with nation and region fixed.
TABLE_WEIGHTS = [
    ("lineitem", 600_000), ("orders", 150_000), ("events", 100_000),
    ("part", 20_000), ("customer", 15_000), ("supplier", 1_000),
]
FIXED_TABLES = [("nation", 25), ("region", 5)]

I, N, S, T = "integer", "number", "string", "date-time"
COLUMNS = {
    "region": [("r_regionkey", I), ("r_name", S)],
    "nation": [("n_nationkey", I), ("n_name", S), ("n_regionkey", I)],
    "supplier": [("s_suppkey", I), ("s_name", S), ("s_nationkey", I),
                 ("s_acctbal", N)],
    "customer": [("c_custkey", I), ("c_name", S), ("c_nationkey", I),
                 ("c_acctbal", N), ("c_mktsegment", S)],
    "part": [("p_partkey", I), ("p_name", S), ("p_brand", S), ("p_type", S),
             ("p_size", I), ("p_retailprice", N)],
    "orders": [("o_orderkey", I), ("o_custkey", I), ("o_orderstatus", S),
               ("o_totalprice", N), ("o_orderdate", T),
               ("o_orderpriority", S)],
    "lineitem": [("l_orderkey", I), ("l_partkey", I), ("l_suppkey", I),
                 ("l_linenumber", I), ("l_quantity", N),
                 ("l_extendedprice", N), ("l_discount", N), ("l_tax", N),
                 ("l_returnflag", S), ("l_linestatus", S), ("l_shipdate", T)],
    "events": [("event_id", I), ("ts", T), ("user_id", I),
               ("event_type", S), ("value", N), ("props", S)],
}

WORDS = ("spark parquet stream batch record schema state table column row "
         "value key index query filter group sort merge join scan write read "
         "file part page block commit segment vector token shard bucket "
         "hash band cell delta compact search rank score doc term fast slow "
         "small big data line window agg order event user source target tap "
         "sink flush crash retry").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "cart", "buy", "search"]
MALFORMED_TS = ["not-a-date", "2021-13-45T99:00:00Z", "yesterday", "2020/01/02"]

DIRTY_TS_SHARE = 0.01     # malformed date-times, coerced to null
EMPTY_SHARE = 0.005       # empty strings in non-string fields, coerced to null


def schema_message(stream):
    props = {}
    for name, kind in COLUMNS[stream]:
        if kind == T:
            props[name] = {"type": ["null", "string"], "format": "date-time"}
        else:
            props[name] = {"type": ["null", kind]}
    return {"type": "SCHEMA", "stream": stream,
            "schema": {"type": "object", "properties": props},
            "key_properties": [COLUMNS[stream][0][0]]}


def _ts(rng):
    secs = rng.randrange(694_224_000, 1_704_067_200)  # 1992 .. 2024
    return EPOCH + datetime.timedelta(seconds=secs)


def _words(rng, lo, hi):
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def make_row(stream, key, rng):
    """One source row as Python values (datetimes for date-time columns)."""
    r = rng
    if stream == "region":
        return [key, "REGION#%d" % key]
    if stream == "nation":
        return [key, "NATION#%d" % key, key % 5]
    if stream == "supplier":
        return [key, "Supplier#%09d" % key, r.randrange(25),
                round(r.uniform(-999, 9999), 2)]
    if stream == "customer":
        return [key, "Customer#%09d" % key, r.randrange(25),
                round(r.uniform(-999, 9999), 2), r.choice(SEGMENTS)]
    if stream == "part":
        return [key, _words(r, 2, 4), "Brand#%d%d" % (r.randint(1, 5), r.randint(1, 5)),
                _words(r, 1, 3).upper(), r.randint(1, 50),
                round(r.uniform(900, 2000), 2)]
    if stream == "orders":
        return [key, r.randrange(1, 15_000), r.choice("OFP"),
                round(r.uniform(800, 500_000), 2), _ts(r), r.choice(PRIORITIES)]
    if stream == "lineitem":
        qty = float(r.randint(1, 50))
        return [r.randrange(1, 600_000), r.randrange(1, 20_000),
                r.randrange(1, 1_000), key % 7 + 1, qty,
                round(qty * r.uniform(900, 2000), 2),
                round(r.randint(0, 10) / 100, 2), round(r.randint(0, 8) / 100, 2),
                r.choice("ARN"), r.choice("OF"), _ts(r)]
    if stream == "events":
        return [key, _ts(r), r.randrange(1, 5_000), r.choice(EVENT_TYPES),
                round(r.uniform(0, 500), 3),
                json.dumps({"page": r.randrange(100), "ref": r.choice(WORDS)})]
    raise ValueError(stream)


def dirty(stream, row, rng):
    """The wire values of a row plus the typed values the target must write.

    Returns (record_dict, typed_list)."""
    record, typed = {}, []
    for (name, kind), v in zip(COLUMNS[stream], row):
        if kind == T:
            if rng.random() < DIRTY_TS_SHARE:
                wire, want = rng.choice(MALFORMED_TS), None
            else:
                wire, want = v.strftime("%Y-%m-%dT%H:%M:%SZ"), v
        elif kind in (I, N) and rng.random() < EMPTY_SHARE:
            wire, want = "", None
        else:
            wire, want = v, v
        record[name] = wire
        typed.append(want)
    return record, typed


def canon(v):
    """Canonical text of one typed value, shared with the checker."""
    if v is None:
        return "\x00"
    if isinstance(v, int):
        return "i%d" % v
    if isinstance(v, float):
        return "f" + repr(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.replace(tzinfo=None) - v.utcoffset()
        return "t%d" % ((v - EPOCH) // datetime.timedelta(microseconds=1))
    return "s" + v


def row_hash(values):
    text = "\x1f".join(canon(v) for v in values).encode()
    return int.from_bytes(hashlib.blake2b(text, digest_size=8).digest(), "little")


class StreamSums:
    """Per-stream RECORD counts and order-independent typed-row checksums."""

    def __init__(self):
        self.counts, self.sums = {}, {}

    def add(self, stream, typed):
        self.counts[stream] = self.counts.get(stream, 0) + 1
        self.sums[stream] = (self.sums.get(stream, 0) + row_hash(typed)) % (1 << 64)


def line(msg):
    return json.dumps(msg, separators=(",", ":")) + "\n"


def table_sizes(total):
    rest = total - sum(n for _, n in FIXED_TABLES)
    weight = sum(w for _, w in TABLE_WEIGHTS)
    sizes = [(t, max(1, rest * w // weight)) for t, w in TABLE_WEIGHTS]
    sizes[0] = (sizes[0][0], sizes[0][1] + rest - sum(n for _, n in sizes))
    return sizes + FIXED_TABLES


def singer_lines(tables, rng, sums):
    """Interleave the tables' RECORDs like a tap's full sync: each stream's
    SCHEMA precedes its first RECORD, runs of records alternate between
    streams in seeded order, and a STATE bookmark follows every
    STATE_EVERY lines. Returns (lines, last_state_value)."""
    pending = {t: [make_row(t, k, rng) for k in range(1, n + 1)] for t, n in tables}
    pos = {t: 0 for t, _ in tables}
    out, last_state, since_state, seq = [], None, 0, 0
    started = set()
    live = [t for t, _ in tables]
    while live:
        t = rng.choice(live)
        if t not in started:
            started.add(t)
            out.append(line(schema_message(t)))
        run = min(rng.randint(1, 400), len(pending[t]) - pos[t])
        for row in pending[t][pos[t]:pos[t] + run]:
            rec, typed = dirty(t, row, rng)
            sums.add(t, typed)
            out.append(line({"type": "RECORD", "stream": t, "record": rec}))
            since_state += 1
            if since_state >= STATE_EVERY:
                seq += 1
                last_state = {"bookmarks": {s: {"position": p} for s, p in sorted(pos.items())},
                              "seq": seq, "current": t}
                out.append(line({"type": "STATE", "value": last_state}))
                since_state = 0
        pos[t] += run
        if pos[t] == len(pending[t]):
            live.remove(t)
    seq += 1
    last_state = {"bookmarks": {s: {"position": p} for s, p in sorted(pos.items())},
                  "seq": seq, "current": None}
    out.append(line({"type": "STATE", "value": last_state}))
    return out, last_state


def write_lines(path, lines):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.writelines(lines)


def gen_singer(workload, seed, out):
    rng = random.Random("%s/%d" % (workload, seed))
    sums = StreamSums()
    lines, last_state = singer_lines(table_sizes(TAP_SYNC_RECORDS), rng, sums)
    write_lines(os.path.join(out, "input.jsonl"), lines)
    manifest = {"workload": workload, "seed": seed, "streams": sorted(sums.counts),
                "record_counts": sums.counts,
                "checksums": {k: str(v) for k, v in sums.sums.items()},
                "record_lines": sum(sums.counts.values()),
                "last_state": last_state,
                "schema_messages": [json.loads(x) for x in lines
                                    if x.startswith('{"type":"SCHEMA"')]}
    # arrival order split into files whose modification times increase, so
    # the file source replays them in order, one file per trigger
    d = os.path.join(out, "stream_in")
    os.makedirs(d, exist_ok=True)
    per = -(-len(lines) // MICRO_BATCH_FILES)
    for i in range(MICRO_BATCH_FILES):
        path = os.path.join(d, "part-%03d.jsonl" % i)
        write_lines(path, lines[i * per:(i + 1) * per])
        os.utime(path, (1_600_000_000 + i, 1_600_000_000 + i))
    return manifest


def gen_index(seed, out):
    """Corpus for the index lifecycle: documents (with seeded near-duplicate
    clusters) and embeddings as Parquet tables, plus the lifecycle plan:
    base slice, delta appends, deleted ids and search queries. The Singer
    layers are not involved."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random("index_lifecycle/%d" % seed)
    texts = []
    for _ in range(DOCS):
        if texts and rng.random() < 0.15:
            words = rng.choice(texts).split()
            for _ in range(rng.randint(1, 3)):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
            texts.append(" ".join(words))
        else:
            texts.append(_words(rng, 12, 40))
    centers = [[rng.gauss(0, 1) for _ in range(EMBED_DIM)] for _ in range(8)]
    labels = [rng.randrange(len(centers)) for _ in range(DOCS)]
    vecs = [[round(c + rng.gauss(0, 0.35), 4) for c in centers[k]] for k in labels]
    ids = pa.array(range(DOCS), pa.int64())
    pq.write_table(pa.table({"doc_id": ids, "text": pa.array(texts, pa.string())}),
                   os.path.join(out, "documents.parquet"))
    pq.write_table(pa.table({"vec_id": ids,
                             "embedding": pa.array(vecs, pa.list_(pa.float32())),
                             "label": pa.array(labels, pa.int32())}),
                   os.path.join(out, "embeddings.parquet"))

    base = DOCS - DOC_DELTAS * DOC_DELTA_SIZE
    deltas = [[base + i * DOC_DELTA_SIZE, base + (i + 1) * DOC_DELTA_SIZE]
              for i in range(DOC_DELTAS)]
    deletes = sorted(rng.sample(range(DOCS), DOC_DELETES))
    gone = set(deletes)
    live = [i for i in range(DOCS) if i not in gone]
    # Query kinds rotate in a fixed order, so every seed searches the same
    # mix: BM25 queries of 1, 2, 3 terms; band queries that are the text of
    # a live document (a duplicate), of a deleted one (which a maintained
    # layout must no longer match) and a new text (kept).
    olds = [rng.sample(live, SEARCH_QUERIES), rng.sample(deletes, SEARCH_QUERIES)]
    band_queries = [texts[olds[k % 3][k]] if k % 3 < 2 else _words(rng, 12, 40)
                    for k in range(SEARCH_QUERIES)]
    plan = {"base_end": base, "deltas": deltas, "deletes": deletes,
            "bm25_queries": [rng.sample(WORDS, 1 + k % 3) for k in range(SEARCH_QUERIES)],
            "band_queries": band_queries,
            "ivf_queries": [[round(c + rng.gauss(0, 0.35), 4) for c in rng.choice(centers)]
                            for _ in range(SEARCH_QUERIES)]}
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump(plan, f, separators=(",", ":"))
    return {"workload": "index_lifecycle", "seed": seed, "live_docs": len(live)}


WORKLOADS = ("singer_tap_sync", "index_lifecycle")


def generate(workload, seed, out):
    """Write the workload's inputs and manifest.json under ``out``."""
    if workload not in WORKLOADS:
        raise ValueError("unknown workload %r" % workload)
    os.makedirs(out, exist_ok=True)
    if workload == "index_lifecycle":
        manifest = gen_index(seed, out)
    else:
        manifest = gen_singer(workload, seed, out)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True, separators=(",", ":"))
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
