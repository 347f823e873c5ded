"""Seeded input generation for the three workloads.

Everything here is a pure function of the seed: the same seed writes the
same parquet files and the same request plans, byte for byte. The shapes
(locator counts, glob widths, points per locator, documents per corpus) are
fixed; the seed only picks names, timestamps and values, so every seed
costs the program about the same work.
"""
import json
import os
import random
from urllib.parse import quote

import pyarrow as pa
import pyarrow.parquet as pq

# The facade's clock is pinned to NOW_MS, so relative windows, ingest
# validity bounds and day boundaries are identical on every run.
NOW_MS = 1709251200000  # 2024-03-01T00:00:00Z
DAY_MS = 86_400_000
SLOT_MS = 300_000  # one 5m bucket
CORPUS_DAYS = 4
TENANTS = 2
SERVICES = 4
HOSTS = 8
METRICS = ("cpu", "mem", "disk", "net")
POINTS_PER_LOCATOR = 32  # one per 3 h: every 24 h window holds 8 or 9
POST_POINTS = 100  # per ingest op: 97 existing-locator points, 2 new names, 1 probe
BATCH_VIEW_NAMES = 50

DOCS = 240
EMBEDDINGS = 240
EMBED_DIM = 64

LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "los", "en"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "des", "est", "une"],
    "zh": ["de0", "shi4", "le0", "zai4", "he2", "you3", "wo3"],
}


def locator(s, h, m):
    return f"svc{s}.host{h:02d}.{m}"


def tenant_names(rng):
    names = set()
    while len(names) < TENANTS:
        names.add(f"t{rng.randrange(1000, 9999)}")
    return sorted(names)


def gen_points(rng, tenants):
    """The corpus: every locator gets POINTS_PER_LOCATOR points, one per
    3 h period with a seeded jitter, so every 24 h range holds 8-9 of them."""
    start = NOW_MS - CORPUS_DAYS * DAY_MS
    period = CORPUS_DAYS * DAY_MS // POINTS_PER_LOCATOR
    rows = []
    for t in tenants:
        for s in range(SERVICES):
            for h in range(HOSTS):
                for m in METRICS:
                    name = locator(s, h, m)
                    for i in range(POINTS_PER_LOCATOR):
                        ts = start + i * period + rng.randrange(period // 1000) * 1000
                        rows.append((t, name, ts, round(rng.uniform(0, 100), 2)))
    return rows


def write_points(path, rows):
    tbl = pa.table({
        "tenant_id": pa.array([r[0] for r in rows], pa.string()),
        "metric_name": pa.array([r[1] for r in rows], pa.string()),
        "ts_ms": pa.array([r[2] for r in rows], pa.int64()),
        "value": pa.array([r[3] for r in rows], pa.float64()),
        "ttl_seconds": pa.array([86400 * 30] * len(rows), pa.int32()),
        "unit": pa.array(["percent"] * len(rows), pa.string()),
    })
    pq.write_table(tbl, path)


def dashboard_plan(rng, tenants):
    """One fixed rotation of the eight dashboard requests. Each kind always
    resolves to the same number of series, whatever the seed picks."""
    t = rng.choice(tenants)
    s = [rng.randrange(SERVICES) for _ in range(4)]
    m = rng.choice(METRICS)
    frm, until = (NOW_MS - DAY_MS) // 1000, NOW_MS // 1000
    vfrom = (NOW_MS - 2 * DAY_MS) // 1000
    one = locator(rng.randrange(SERVICES), rng.randrange(HOSTS), rng.choice(METRICS))
    five = locator(rng.randrange(SERVICES), rng.randrange(HOSTS), rng.choice(METRICS))
    allnames = [locator(a, b, c) for a in range(SERVICES) for b in range(HOSTS) for c in METRICS]
    batch = sorted(rng.sample(allnames, BATCH_VIEW_NAMES))
    targets = {
        "render_raw": f"svc{s[0]}.host0*.cpu",
        "render_mavg": f"movingAverage(sumSeries(svc{s[1]}.*.mem),'1h')",
        "render_top": f"aliasByNode(highestMax(svc{s[2]}.*.{m},3),2)",
        "render_mdp": f"svc{s[3]}.*.disk",
    }

    def render(kind):
        return f"/render?tenant={t}&target={quote(targets[kind], safe='')}&from={frm}&until={until}&format=json"

    reqs = [
        {"kind": "render_raw", "route": "render", "method": "GET", "path": render("render_raw"),
         "expect": {"series": HOSTS}},
        {"kind": "render_mavg", "route": "render", "method": "GET", "path": render("render_mavg"),
         "expect": {"series": 1}},
        {"kind": "render_top", "route": "render", "method": "GET", "path": render("render_top"),
         "expect": {"series": 3, "name": m}},
        {"kind": "render_mdp", "route": "render", "method": "GET",
         "path": render("render_mdp") + "&maxDataPoints=100",
         "expect": {"series": HOSTS, "max_points": 100}},
        {"kind": "views_points", "route": "views", "method": "GET",
         "path": f"/v2.0/{t}/views/{one}?from={vfrom}&to={until}&points=100",
         "expect": {"metrics": 1}},
        {"kind": "views_5m", "route": "views", "method": "GET",
         "path": f"/v2.0/{t}/views/{five}?from={vfrom}&to={until}&resolution=5m"
                 f"&select=average,numPoints,min,max",
         "expect": {"metrics": 1, "oracle": {"tenant": t, "name": five,
                                             "from": vfrom * 1000, "to": NOW_MS}}},
        {"kind": "views_batch", "route": "views_batch", "method": "POST",
         "path": f"/v2.0/{t}/views?from={vfrom}&to={until}&points=100",
         "body": json.dumps(batch), "expect": {"metrics": BATCH_VIEW_NAMES}},
        {"kind": "find", "route": "find", "method": "GET",
         "path": f"/metrics/find?tenant={t}&query=svc{s[0]}.%2A",
         "expect": {"nodes": HOSTS}},
    ]
    return reqs


def ingest_plan(rng, tenants, corpus, n_ops):
    """n_ops POST+read-back ops. The expected 5m bucket (count, sum) of each
    op's probe point is tracked through the corpus and every earlier op, so
    the read-back check is exact."""
    buckets = {}
    for t, name, ts, v in corpus:
        k = (t, name, ts - ts % SLOT_MS)
        c, sm = buckets.get(k, (0, 0.0))
        buckets[k] = (c + 1, sm + v)
    lo = NOW_MS - 2 * DAY_MS
    ops = []
    for i in range(n_ops):
        t = tenants[i % len(tenants)]
        recs = []
        for _ in range(POST_POINTS - 3):
            name = locator(rng.randrange(SERVICES), rng.randrange(HOSTS), rng.choice(METRICS))
            recs.append((name, lo + rng.randrange(2 * DAY_MS // 1000) * 1000, round(rng.uniform(0, 100), 2)))
        for j in range(2):
            name = f"svc{rng.randrange(SERVICES)}.host{rng.randrange(HOSTS):02d}.new{i}x{j}"
            recs.append((name, lo + rng.randrange(2 * DAY_MS // 1000) * 1000, round(rng.uniform(0, 100), 2)))
        probe = locator(rng.randrange(SERVICES), rng.randrange(HOSTS), rng.choice(METRICS))
        pts = lo + rng.randrange(2 * DAY_MS // 1000) * 1000
        recs.append((probe, pts, round(rng.uniform(0, 100), 2)))
        for name, ts, v in recs:
            k = (t, name, ts - ts % SLOT_MS)
            c, sm = buckets.get(k, (0, 0.0))
            buckets[k] = (c + 1, sm + v)
        slot = pts - pts % SLOT_MS
        body = json.dumps([{"tenantId": t, "metricName": n, "metricValue": v,
                            "collectionTime": ts, "ttlInSeconds": 2592000, "unit": "percent"}
                           for n, ts, v in recs], separators=(",", ":"))
        ops.append({"tenant": t, "body": body, "points": len(recs), "probe": probe,
                    "read": f"/v2.0/{t}/views/{probe}?from={slot // 1000}&to={(slot + SLOT_MS) // 1000}"
                            f"&resolution=5m&select=numPoints",
                    "slot": slot, "num_points": buckets[(t, probe, slot)][0]})
    return ops


def gen_documents(rng):
    """DOCS documents whose shape is fixed and only whose content the seed
    picks: a 260-word vocabulary, the same multiset of lengths and
    languages, and exactly DOCS // 10 near-duplicates (two word edits of an
    earlier unplanted document) and DOCS // 10 documents carrying a verbatim
    25-word span of one."""
    vocab = set()
    while len(vocab) < 260:
        vocab.add("".join(rng.choice("bcdfghklmnprstvw") + rng.choice("aeiou")
                          for _ in range(rng.randrange(2, 4))))
    vocab = sorted(vocab)
    langs = sorted(LANG_MARKERS)
    lengths = [60 + (i * 80) // DOCS for i in range(DOCS)]
    rng.shuffle(lengths)
    doc_langs = [langs[i % len(langs)] for i in range(DOCS)]
    rng.shuffle(doc_langs)
    planted = rng.sample(range(20, DOCS), DOCS // 5)
    near_dups, spans = set(planted[:DOCS // 10]), set(planted[DOCS // 10:])
    docs = []
    originals = []  # copies are made only from unplanted documents
    for i in range(DOCS):
        lang = doc_langs[i]
        if i in near_dups:
            src = docs[rng.choice(originals)]
            words, lang = src[1].split(" "), src[2]
            for _ in range(2):
                words[rng.randrange(len(words))] = rng.choice(vocab)
        else:
            words = [rng.choice(LANG_MARKERS[lang]) if rng.random() < 0.18 else rng.choice(vocab)
                     for _ in range(lengths[i])]
            if i in spans:
                src = docs[rng.choice(originals)][1].split(" ")
                at = rng.randrange(len(src) - 25)
                pos = rng.randrange(len(words))
                words[pos:pos] = src[at:at + 25]
        text = " ".join(words)
        docs.append((i, text, lang, f"src{i % 5}", len(text)))
        if i not in near_dups and i not in spans:
            originals.append(i)
    return docs


def write_documents(path, docs):
    pq.write_table(pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": pa.array([d[1] for d in docs], pa.string()),
        "lang": pa.array([d[2] for d in docs], pa.string()),
        "source": pa.array([d[3] for d in docs], pa.string()),
        "n_chars": pa.array([d[4] for d in docs], pa.int64()),
    }), path)


def write_embeddings(path, rng):
    vecs = [[rng.gauss(0.0, 0.125) for _ in range(EMBED_DIM)] for _ in range(EMBEDDINGS)]
    pq.write_table(pa.table({
        "vec_id": pa.array(range(EMBEDDINGS), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in range(EMBEDDINGS)], pa.int32()),
    }), path)


def generate(workload, seed, out_dir, ingest_ops=0):
    """Write the workload's inputs under out_dir and return its plan."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(f"{workload}:{seed}")
    plan = {"now_ms": NOW_MS}
    if workload in ("dashboard_read", "ingest_fresh"):
        tenants = tenant_names(rng)
        corpus = gen_points(rng, tenants)
        write_points(os.path.join(out_dir, "points.parquet"), corpus)
        plan["corpus_points"] = len(corpus)
        plan["requests"] = dashboard_plan(rng, tenants)
        plan["ingest"] = ingest_plan(rng, tenants, corpus, ingest_ops)
    elif workload == "batch_dedup":
        write_documents(os.path.join(out_dir, "documents.parquet"), gen_documents(rng))
        write_embeddings(os.path.join(out_dir, "embeddings.parquet"), rng)
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump(plan, f)
    return plan
