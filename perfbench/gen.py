"""Input generators for the benchmark.

Two kinds of input, both deterministic:

* ``base_tables`` writes the ten engine tables (``region`` ... ``embeddings``)
  as single parquet files, from a fixed seed. The registry queries read them.
  Their shape follows the engine's test tables: the same columns, types,
  value ranges and vocabularies, at a small scale factor.
* ``seeded_inputs`` derives what the workload seed controls: medallion
  bronze JSONL (clickstream from ``events``, user-events from ``customer``,
  product-events from ``part``), the per-day increment landings, and the
  stream's event schedule. The seed injects malformed lines, duplicate
  ``event_id``s, stale user/product snapshots and the minimal-variant field
  aliases. It never changes what a correct pipeline outputs, so the expected
  hashes in ``expected.json`` hold for every seed.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
# Row counts at the benchmark's scale (the engine's sf0.01 sizes).
SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 500,
         "embeddings": 500}
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
EVENT_DAYS = 30          # events span 2024-01-01 .. 2024-01-30
CLICK_TIME_SCALE = 2     # clickstream replays events at 2x: 15 event-days
INCREMENT_DAYS = 3       # the last days arrive as per-day increments
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
# events.event_type -> clickstream event_type (legacy spelling, canonical)
CLICK_TYPES = {"view": ("page_view", "view"),
               "click": ("product_click", "click"),
               "purchase": ("purchase", "purchase"),
               "signup": ("add_to_cart", "add_to_cart"),
               "error": ("search", "search")}
NATIONS = [f"NATION_{i}" for i in range(25)]


def _write(table, path):
    pq.write_table(table, path, row_group_size=1 << 20)


def _days(rng, n, start, end):
    lo = (start - dt.datetime(1970, 1, 1)).days
    hi = (end - dt.datetime(1970, 1, 1)).days
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("int64") * 86_400_000_000, pa.int64()).cast(
        pa.timestamp("us"))


def base_tables(out_dir):
    """Write the ten engine tables into ``out_dir``."""
    rng = np.random.default_rng(BASE_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n = SIZES
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": NATIONS,
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out_dir}/nation.parquet")
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n["customer"])]}),
        f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2)}),
        f"{out_dir}/supplier.parquet")
    adj = ["large", "hot", "blue", "old", "cold", "small", "red", "green"]
    noun = ["ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve"]
    ptypes = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    npart = n["part"]
    _write(pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": [ptypes[t] for t in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": [round(900.0 + (i % 1000) * 0.1, 1)
                          for i in range(npart)]}),
        f"{out_dir}/part.parquet")
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    no = n["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _days(rng, no, dt.datetime(1995, 1, 1),
                             dt.datetime(2001, 8, 1)),
        "o_orderpriority": [prio[i] for i in rng.integers(0, 5, no)]}),
        f"{out_dir}/orders.parquet")
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype("float64")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, nl, dt.datetime(1995, 1, 2),
                            dt.datetime(2001, 11, 4))}),
        f"{out_dir}/lineitem.parquet")
    ne = n["events"]
    t0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    span = EVENT_DAYS * 86_400_000_000
    ts = np.sort(rng.integers(t0, t0 + span, ne))
    _write(pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["customer"] // 10, ne),
                            pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [json.dumps({"k": int(k)}) for k in
                  rng.integers(0, 100, ne)]}),
        f"{out_dir}/events.parquet")
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 8 and rng.random() < 0.02:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
            continue
        words = list(rng.choice(WORDS, int(rng.integers(10, 101))))
        if rng.random() < 0.05:
            words.insert(int(rng.integers(0, len(words))), "dup")
        texts.append(" ".join(words))
    langs = ["en"] * 4 + ["de", "es", "fr", "zh"] * 1
    _write(pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": [langs[i] for i in rng.integers(0, len(langs), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out_dir}/documents.parquet")
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 0.07, (10, 64))
    vecs = rng.normal(0, 1, (nv, 64)) + centers[labels] * 14
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array([list(v) for v in vecs.astype("float32")],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{out_dir}/embeddings.parquet")


def _iso(us):
    return dt.datetime.fromtimestamp(us / 1e6, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%f")


def clickstream_records(data_dir):
    """One clickstream record per ``events`` row (no noise), with its
    event-day index (0-based). Product fields come from ``part``."""
    ev = pq.read_table(f"{data_dir}/events.parquet").to_pylist()
    part = pq.read_table(f"{data_dir}/part.parquet").to_pylist()
    devices = ["mobile", "desktop", "tablet", "Mobile", None]
    browsers = ["chrome", "firefox", "safari", "edge"]
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    out = []
    for e in ev:
        i = e["event_id"]
        k = json.loads(e["props"])["k"]
        p = part[(i * 7919 + k) % len(part)]
        off = (e["ts"].replace(tzinfo=dt.timezone.utc) - t0) / CLICK_TIME_SCALE
        ts = t0 + off
        us = int(t0.timestamp() * 1e6) + int(off.total_seconds() * 1e6)
        day = off.days
        legacy, canon = CLICK_TYPES[e["event_type"]]
        rec = {
            "event_id": f"evt-{i:07d}",
            "timestamp": _iso(us),
            "session_id": f"sess-{e['user_id']}-{day}-{ts.hour // 6}",
            "user_id": None if i % 97 == 0 else f"user-{e['user_id']:05d}",
            "event_type": canon,
            "product_id": f"prod-{p['p_partkey']:05d}",
            "product_category": p["p_type"].lower(),
            "product_price": round(p["p_retailprice"] / 10.0, 2),
            "quantity": 1 + k % 3,
            "device_type": devices[k % 5],
            "browser": browsers[k % 4],
            "referrer": ("google", "direct", "email")[i % 3],
            "page_url": f"https://shop.example/p/{p['p_partkey']}?k={k}",
            "location": NATIONS[k % 25],
        }
        if canon == "purchase":
            rec["total_amount"] = round(rec["product_price"] * rec["quantity"], 2)
            rec["payment_method"] = ("card", "paypal")[k % 2]
        if canon == "search":
            rec["search_query"] = f"{p['p_name']}"
            rec["search_results_count"] = k
        out.append((day, legacy, rec))
    return out


def _variant(rng, legacy, rec):
    """The seed's per-line rewrite: legacy event-type names and the
    minimal-variant aliases (item_id / category / price / url). Silver
    normalizes all of them back to the same row."""
    r = dict(rec)
    if rng.random() < 0.3:
        r["event_type"] = legacy
    if rng.random() < 0.3:
        r["item_id"] = r.pop("product_id")
        r["category"] = r.pop("product_category")
        r["price"] = r.pop("product_price")
        r["url"] = r.pop("page_url")
    return r


def _malformed(rng, rec):
    line = json.dumps(rec)
    cut = int(rng.integers(5, max(6, len(line) - 5)))
    return line[:cut]


def _noisy_lines(rng, recs, noise, variants=False):
    """Serialize records with the seed's noise: duplicated records (the
    same event, maybe in another variant), malformed lines and, for the
    clickstream, the variant spellings."""
    def dump(legacy, rec):
        return json.dumps(_variant(rng, legacy, rec) if variants else rec)
    lines = [dump(legacy, rec) for legacy, rec in recs]
    n = len(recs)
    for j in rng.choice(n, int(n * noise["dup"]), replace=False):
        lines.append(dump(*recs[int(j)]))
    for j in rng.choice(n, int(n * noise["bad"]), replace=False):
        lines.append(_malformed(rng, recs[int(j)][1]))
    order = rng.permutation(len(lines))
    return [lines[i] for i in order]


def _write_lines(dir_, lines, files):
    os.makedirs(dir_, exist_ok=True)
    per = (len(lines) + files - 1) // files
    total = 0
    for f in range(files):
        chunk = lines[f * per:(f + 1) * per]
        if not chunk:
            continue
        data = ("\n".join(chunk) + "\n").encode()
        with open(f"{dir_}/part-{f:03d}.jsonl", "wb") as fh:
            fh.write(data)
        total += len(data)
    return total


def user_records(data_dir):
    cust = pq.read_table(f"{data_dir}/customer.parquet").to_pylist()
    out = []
    for c in cust:
        k = c["c_custkey"]
        bal = abs(c["c_acctbal"])
        orders = 1 + k % 40
        out.append({
            "user_id": f"user-{k:05d}",
            "timestamp": f"2023-12-{1 + k % 7:02d}T08:00:00",
            "email": f"u{k}@example.com",
            "age": 18 + k % 60,
            "gender": ("f", "m", "x")[k % 3],
            "location": NATIONS[c["c_nationkey"]],
            "signup_date": f"20{15 + k % 8}-01-01",
            "total_orders": orders,
            "total_purchases": orders,
            "total_spent": round(bal, 2),
            "avg_order_value": round(bal / orders, 2),
            "device_type": ("mobile", "desktop")[k % 2],
            "created_at": f"20{15 + k % 8}-01-01T00:00:00",
        })
    return out


def product_records(data_dir):
    part = pq.read_table(f"{data_dir}/part.parquet").to_pylist()
    out = []
    for p in part:
        k = p["p_partkey"]
        out.append({
            "product_id": f"prod-{k:05d}",
            "timestamp": f"2023-12-{1 + k % 7:02d}T12:00:00",
            "name": p["p_name"],
            "category": f" {p['p_type'].lower()} ",
            "price": round(p["p_retailprice"] / 10.0, 2),
            "brand": p["p_brand"],
            "rating": round(1.0 + (k % 41) / 10.0, 1),
            "review_count": k % 500,
            "stock_quantity": (k * 13) % 60 - 5,
        })
    return out


def _stale(rng, recs, frac, older):
    """Older snapshots of some records: keep-latest must drop them."""
    out = []
    for j in rng.choice(len(recs), int(len(recs) * frac), replace=False):
        r = dict(recs[int(j)])
        r["timestamp"] = older
        for f in ("total_spent", "price"):
            if f in r:
                r[f] = round(r[f] + 1.0, 2)
        out.append(("", r))
    return out


NOISE = {"dup": 0.02, "bad": 0.01}
# (events per second, seconds); the first rung is the reference rate
STREAM_LADDER = [(1000, 3.0), (4000, 1.5), (16000, 1.5)]
STREAM_REFERENCE_RATE = 1000
STREAM_WARMUP_S = 1.5


def stream_schedule(data_dir, rng, warmup_s):
    """The stream's open-loop schedule: (due_us, user, product, category,
    event_type, price, phase) rows, due times relative to the stream start:
    a warm-up, then the rungs of the rate ladder.
    A user never has two events due in the same millisecond, so the
    stream's per-batch ordering equals the batch form's global one."""
    ev = pq.read_table(f"{data_dir}/events.parquet").to_pylist()
    part = pq.read_table(f"{data_dir}/part.parquet").to_pylist()
    types = ["view", "view", "add_to_cart", "purchase", "click"]
    plan = [(warmup_s, 250, "warmup")] + [
        (secs, r, f"rate{r}") for r, secs in STREAM_LADDER]
    rows = []
    t = 0.0
    start = int(rng.integers(0, len(ev)))
    i = 0
    for dur, rate, phase in plan:
        n = int(dur * rate)
        for j in range(n):
            rows.append([int((t + j / rate) * 1e6), phase])
        t += dur
    out = []
    last_ms = {}
    for due, phase in rows:
        e = ev[(start + i) % len(ev)]
        i += 1
        user = f"user-{e['user_id']:05d}"
        ms = due // 1000
        if last_ms.get(user, -1) >= ms:
            ms = last_ms[user] + 1
            due = ms * 1000 + due % 1000
        last_ms[user] = ms
        k = json.loads(e["props"])["k"]
        p = part[(e["event_id"] * 7919 + k) % len(part)]
        out.append((due, user, f"prod-{p['p_partkey']:05d}",
                    p["p_type"].lower(), types[k % 5],
                    round(p["p_retailprice"] / 10.0, 2), phase))
    out.sort(key=lambda r: r[0])
    return out


def seeded_inputs(data_dir, out_dir, seed, workload):
    """Write the seed-controlled inputs a workload reads under
    ``out_dir``; returns their sizes for the report."""
    rng = np.random.default_rng(seed)
    sizes = {"seed": seed}
    if workload == "recsys_stream":
        sched = stream_schedule(data_dir, rng, STREAM_WARMUP_S)
        os.makedirs(out_dir, exist_ok=True)
        with open(f"{out_dir}/stream_events.tsv", "w") as fh:
            for r in sched:
                fh.write("\t".join(str(x) for x in r) + "\n")
        sizes["stream_events"] = len(sched)
        return sizes
    clicks = clickstream_records(data_dir)
    days = -(-EVENT_DAYS // CLICK_TIME_SCALE)
    last = days - INCREMENT_DAYS
    initial = [(lg, r) for d, lg, r in clicks if d < last]
    lines = _noisy_lines(rng, initial, NOISE, variants=True)
    sizes["bronze_clickstream_bytes"] = _write_lines(
        f"{out_dir}/bronze/topics/clickstream-events", lines, 4)
    sizes["bronze_clickstream_lines"] = len(lines)
    users = [("", r) for r in user_records(data_dir)]
    users += _stale(rng, [r for _, r in users], 0.05, "2022-06-01T00:00:00")
    lines = _noisy_lines(rng, users, NOISE)
    sizes["bronze_user_bytes"] = _write_lines(
        f"{out_dir}/bronze/topics/user-events", lines, 2)
    sizes["bronze_user_lines"] = len(lines)
    prods = [("", r) for r in product_records(data_dir)]
    prods += _stale(rng, [r for _, r in prods], 0.05, "2023-01-01T00:00:00")
    lines = _noisy_lines(rng, prods, NOISE)
    sizes["bronze_product_bytes"] = _write_lines(
        f"{out_dir}/bronze/topics/product-events", lines, 2)
    sizes["bronze_product_lines"] = len(lines)
    inc_lines = 0
    for d in range(last, days):
        recs = [(lg, r) for dd, lg, r in clicks if dd == d]
        lines = _noisy_lines(rng, recs, NOISE, variants=True)
        inc_lines += len(lines)
        _write_lines(f"{out_dir}/increments/day={d + 1:02d}", lines, 2)
    sizes["increment_lines"] = inc_lines
    return sizes


if __name__ == "__main__":
    import sys
    if sys.argv[1] == "base":
        base_tables(sys.argv[2])
    else:
        print(seeded_inputs(sys.argv[2], sys.argv[3], int(sys.argv[4]),
                            sys.argv[5]))
