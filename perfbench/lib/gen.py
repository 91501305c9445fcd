"""Seeded input generators. The same seed gives byte-identical files.

The program sees only what these write: parquet topic segments (in the
hive `partition=N` layout its DSv2 source reads), the curation tables,
and the topic registrations in `TOPIC_CONF`.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Topic columns, registered through `spark.graft.topic.<name>.columns`.
TOPIC_CONF = "offset,ts,value"

# Helsinki HFP-like vehicle positions. Half the routes are all-digit
# strings, like most real Helsinki route ids.
ROUTES = ["1065", "2550", "4611", "1069", "7280", "1039", "4562", "9701",
          "550B", "9788K", "1010H", "2015N", "6173T", "1014A", "4565P", "7258V"]
MODES = ["bus", "tram", "train", "metro", "ferry"]
STARTS = ["05:12", "07:30", "08:45", "12:00", "16:20", "18:05", "22:40", "23:30"]
BASE_MS = 1674950063000  # 2023-01-28T23:54:23Z, the reference's sample record

SEGMENT_SCHEMA = pa.schema([
    ("offset", pa.int64()),
    ("ts", pa.timestamp("ms", tz="UTC")),
    ("value", pa.string()),
])


def iso_ms(ms):
    """RFC 3339 UTC texts with milliseconds, as HFP's `tst`."""
    return [t + "Z" for t in np.datetime_as_string(
        np.asarray(ms, dtype=np.int64).astype("datetime64[ms]"), unit="ms")]


def vp_payloads(rng, ts_ms):
    """One HFP-like JSON payload per timestamp."""
    n = len(ts_ms)
    route = rng.integers(0, len(ROUTES), n)
    mode = rng.integers(0, len(MODES), n)
    veh = rng.integers(1, 1500, n)
    spd = rng.integers(0, 2500, n) / 100.0
    hdg = rng.integers(0, 360, n)
    lat = 60.1 + rng.integers(0, 200000, n) / 1e6
    lon = 24.8 + rng.integers(0, 300000, n) / 1e6
    dl = rng.integers(-300, 300, n)
    odo = rng.integers(0, 60000, n)
    oper = rng.choice([6, 12, 17, 22, 30, 40, 47, 50], n)
    drst = rng.integers(0, 2, n)
    occu = rng.integers(0, 100, n)
    start = rng.integers(0, len(STARTS), n)
    jrn = rng.integers(1, 2000, n)
    tst = iso_ms(ts_ms)
    tsi = np.asarray(ts_ms, dtype=np.int64) // 1000
    out = []
    for i in range(n):
        r = ROUTES[route[i]]
        out.append(
            '{"VP":{"desi":"%d","dir":"%d","oper":%d,"veh":%d,"tst":"%s",'
            '"tsi":%d,"spd":%.2f,"hdg":%d,"lat":%.6f,"long":%.6f,"acc":0.0,'
            '"dl":%d,"odo":%d,"drst":%d,"oday":"2023-01-28","jrn":%d,'
            '"line":%d,"start":"%s","loc":"GPS","stop":null,"route":"%s",'
            '"occu":%d},"mode":"%s"}' % (
                10 + route[i], 1 + (route[i] % 2), oper[i], veh[i],
                tst[i], tsi[i], spd[i], hdg[i], lat[i],
                lon[i], dl[i], odo[i], drst[i], jrn[i], 100 + route[i],
                STARTS[start[i]], r, occu[i], MODES[mode[i]]))
    return out


def write_segment(path, first_offset, ts_ms, values):
    n = len(values)
    table = pa.table({
        "offset": pa.array(np.arange(first_offset, first_offset + n, dtype=np.int64)),
        "ts": pa.array(np.asarray(ts_ms, dtype="datetime64[ms]"),
                       type=pa.timestamp("ms", tz="UTC")),
        "value": pa.array(values, type=pa.string()),
    }, schema=SEGMENT_SCHEMA)
    pq.write_table(table, path)


def segment_path(base_dir, topic, partition, index):
    d = os.path.join(base_dir, f"{topic}.parquet", f"partition={partition}")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, "seg-%06d.parquet" % index)


def write_topic(rng, base_dir, topic, partitions, segments, per_segment, ts_step_ms=10):
    """A topic of `partitions` x `segments` x `per_segment` records with dense
    per-partition offsets; timestamps rise with the global record order.
    Segments are written in offset order, so file mtimes follow it too."""
    layout = []
    for s in range(segments):
        for p in range(partitions):
            first = s * per_segment
            g0 = (s * partitions + p) * per_segment
            ts = BASE_MS + (g0 + np.arange(per_segment)) * ts_step_ms
            write_segment(segment_path(base_dir, topic, p, s), first, ts,
                          vp_payloads(rng, ts))
            layout.append({"partition": p, "segment": s, "first": first,
                           "rows": per_segment})
    return {"partitions": partitions, "segments": segments,
            "per_segment": per_segment, "leo": segments * per_segment,
            "layout": layout}


# ---- consume_sql -----------------------------------------------------------

TRANSIT = dict(partitions=4, segments=8, per_segment=1000)


def transit(seed, data_dir):
    rng = np.random.default_rng([seed, 1])
    return write_topic(rng, data_dir, "transit", **TRANSIT)


# ---- stream_ingest ---------------------------------------------------------

STREAM = dict(partitions=4, warm_segments=2, warm_rows=250,
              backlog_segments=5, backlog_rows=2000,
              live_rows=250, period_ms=100, trigger_ms=1000)


def stream_topics(seed, work_dir, seconds):
    """`transit_warm` and `transit_backlog` written whole; `transit_live` gets
    one segment per partition now and the rest staged for the publisher.
    Live records are stamped with their segment's due time (ms after the
    publisher starts, on the epoch-0 clock)."""
    rng = np.random.default_rng([seed, 2])
    c = STREAM
    dirs = {k: os.path.join(work_dir, k) for k in ("warm", "backlog", "live", "staging")}
    warm = write_topic(rng, dirs["warm"], "transit_warm", c["partitions"],
                       c["warm_segments"], c["warm_rows"])
    backlog = write_topic(rng, dirs["backlog"], "transit_backlog", c["partitions"],
                          c["backlog_segments"], c["backlog_rows"])
    n_live = int(seconds * 1000 // c["period_ms"])
    publish = []
    ends = [0] * c["partitions"]
    for k in range(-c["partitions"], n_live):
        p = k % c["partitions"]
        due = (k + 1) * c["period_ms"]
        ts = np.full(c["live_rows"], max(due, 0), dtype=np.int64)
        index = ends[p] // c["live_rows"]
        dst = segment_path(dirs["live"], "transit_live", p, index)
        if k >= 0:
            os.makedirs(dirs["staging"], exist_ok=True)
            src = os.path.join(dirs["staging"], "p%d-%s" % (p, os.path.basename(dst)))
        else:
            src = dst
        write_segment(src, ends[p], ts, vp_payloads(rng, ts))
        ends[p] += c["live_rows"]
        if k >= 0:
            publish.append({"src": src, "dst": dst, "partition": p,
                            "end_offset": ends[p], "due_ms": due})
    return {"dirs": dirs, "warm": warm, "backlog": backlog, "publish": publish,
            "backlog_records": backlog["leo"] * c["partitions"]}


# ---- curation_batch --------------------------------------------------------

WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter",
         "small", "slow", "merge", "order", "vector", "line", "table", "data",
         "agg", "value", "key", "stream", "window", "a", "spark", "part",
         "group", "big", "sort", "query", "fast", "the"]
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]
CURATION = dict(documents=500, embeddings=500, dims=64, labels=10)
# The SparkEntry.queries entries the workload runs: one of each family the
# curation debts name (clean-corpus pipeline, corpus report, BM25 through
# the DataFrame and SQL-TVF paths, DSIR sampling, dedup clusters,
# MinHash-LSH pairs, ANN near-duplicates).
CURATION_ENTRIES = [
    "pipeline_clean_corpus_v5", "corpus_curation_report", "text_bm25_rank",
    "sql_tvf_bm25", "sample_dsir", "dedup_clusters", "emb_ann_neardups",
    "dedup_lsh_recall",
]


def curation_tables(seed, data_dir):
    """`documents` (5% near-duplicates: a copy of an earlier document with
    the token `dup` inserted) and unit-norm `embeddings`, in the shape of
    the repo's fixture tables. The seed moves the duplicates, not their
    number."""
    rng = np.random.default_rng([seed, 3])
    n = CURATION["documents"]
    dups = set(rng.choice(np.arange(21, n), size=n // 20, replace=False).tolist())
    texts = []
    for i in range(n):
        if i in dups:
            words = texts[int(rng.integers(0, i))].split(" ")
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
        "source": ["src%d" % (i % 20) for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    m, d = CURATION["embeddings"], CURATION["dims"]
    x = rng.standard_normal((m, d))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    embs = pa.table({
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, CURATION["labels"], m).astype(np.int32)),
    })
    os.makedirs(data_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(data_dir, "documents.parquet"))
    pq.write_table(embs, os.path.join(data_dir, "embeddings.parquet"))


# ---- fingerprint -----------------------------------------------------------

def fingerprint(root):
    """Row and byte counts of every parquet file under `root`, plus one
    digest over the contents, so a run records exactly what it measured."""
    files = {}
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(root)):
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            path = os.path.join(d, name)
            with open(path, "rb") as f:
                data = f.read()
            h.update(os.path.relpath(path, root).encode() + b"\0" + data)
            files[os.path.relpath(path, root)] = {
                "rows": pq.ParquetFile(path).metadata.num_rows, "bytes": len(data)}
    return {"files": len(files), "rows": sum(v["rows"] for v in files.values()),
            "bytes": sum(v["bytes"] for v in files.values()),
            "sha256": h.hexdigest(), "per_file": files}
