"""Seeded input generator, and every workload's traffic properties.

For the batch workload it writes the engine's input tables in the testdata
schemas (one parquet file per table: events, orders, lineitem, customer,
nation, region, part, supplier, documents), so the engine only ever
receives files. The same seed gives the same tables. The stream generates
its events inside the run, from the traffic properties given here. Each
workload's properties are set in WORKLOADS below, with the source of each
value; they are also written to gen.json, and the benchmark copies them
into its report.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_EPOCH_MS = 1704067200000  # 2024-01-01T00:00:00Z
EVENT_DAYS = 30
ORDER_EPOCH_DAY = 9862  # 1997-01-01
ORDER_DAYS = 730
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "es", "de", "fr", "zh"]
VOCAB = {
    "en": "the data table query scan join window batch stream value key row merge sort filter group small big fast slow",
    "es": "el la de que datos tabla consulta ventana lote valor clave fila unir ordenar filtro grupo rapido lento pedido cliente",
    "de": "der die das und daten tabelle abfrage fenster stapel wert schluessel zeile sortieren filter gruppe schnell langsam auftrag kunde spalte",
    "fr": "le la les des donnees table requete fenetre lot valeur cle ligne trier filtre groupe rapide lent commande client colonne",
    "zh": "数据 表格 查询 窗口 批次 流式 数值 主键 行列 合并 排序 过滤 分组 快速 慢速 订单 客户 部分 哈希 向量",
}

STAR = dict(events=15000, orders=10000, customers=1000, parts=2000, suppliers=100)

# Device traffic measured on the engine's testdata events table (sf0.1:
# 100,000 events, 1,500 devices, 30 days; sf0.01 gives the same figures):
#  - each event's device is drawn uniformly: the busiest 10% of devices
#    hold 12.3% of the events, which is what uniform draws give at 67
#    events a device, so the skew exponent below is 1 (u^1);
#  - 66.7 events per device over the 30 days: 2.22 a device a day;
#  - 10.8% of devices are first seen after the first day: what uniform
#    draws give with no device born later, since a device drawn 2.22
#    times a day misses the first day with probability e^-2.22 = 10.8%.
# Both event workloads draw devices uniformly at 2.22 events a device a
# day, so the new-device share arises as in the testdata; the report gives
# the share each run's input holds. The stream's first day is its set-up's
# first second, so its device count follows from that day's events.
DEVICE_SKEW = 1.0
EVENTS_PER_DEVICE_DAY = 66.7 / 30
NEW_DEVICE_SHARE = 0.108
MEASURED = "measured on the testdata events table (sf0.1)"


def _device_traffic(new_device_how):
    return {
        "device_skew": [DEVICE_SKEW, MEASURED + ": devices are drawn uniformly (u^1)"],
        "events_per_device_day": [round(EVENTS_PER_DEVICE_DAY, 4),
                                  MEASURED + ": 66.7 events a device over 30 days"],
        "new_device_share": [NEW_DEVICE_SHARE, MEASURED + "; not set, it arises from uniform "
                                               "draws at the rate above, " + new_device_how],
    }


# Sizes and traffic per workload, with the source of each value: measured
# where the repository holds data to measure, chosen (and said so) where
# it does not. gen.json carries them into every report.
WORKLOADS = {
    "stream_ingest": dict(
        tables={},
        traffic={
            **_device_traffic("with day D the set-up's first second and D+1 the rest: "
                              "devices seen on D return on D+1, so the is_new repair "
                              "rewrites their flags to 0"),
            "out_of_order_share": [0.1, "chosen, not observed (the testdata log has no arrival "
                                        "order): up to 2.9 s behind, inside the 3 s bound, so "
                                        "the watermark must absorb disorder without dropping rows"],
            "late_share": [0.01, "chosen, not observed: 60 s behind, beyond every watermark but "
                                 "the 1-day UV one, so the windowed layer must drop exactly these"],
            "planted_duplicate_share": [0.0, "no documents are read"],
            "request_repeat_share": [0.0, "chosen: no requests; an open-loop event feed"],
        }),
    "warehouse_build": dict(
        tables=dict(STAR, documents=450),
        traffic={
            **_device_traffic("over 30 days as in the testdata"),
            "out_of_order_share": [0.0, "batch input: order of arrival does not exist"],
            "late_share": [0.0, "batch input: no watermark"],
            "planted_duplicate_share": [0.2, "chosen, not observed: 10% exact copies and 10% "
                                             "near copies (last token changed) of base "
                                             "documents. The testdata documents hold 0.16% "
                                             "exact duplicates, under one pair at this size; "
                                             "at 10% every dedup leg has pairs to find and "
                                             "the exact leg can be checked"],
            "language_mix": ["en 3/7, es/de/fr/zh 1/7 each",
                             "measured on the testdata documents table (sf0.1): en 0.412, "
                             "zh 0.151, es 0.149, fr 0.148, de 0.140; zh is CJK, so the "
                             "language identifier and tokenizers see a script change"],
            "request_repeat_share": [0.0, "chosen: no requests; one build per iteration"],
        }),
}

# The workloads whose inputs are generated as files.
BATCH = ("warehouse_build",)


def _rng(seed, tag):
    return np.random.default_rng([seed, tag])


def _money(r, n, lo, hi):
    return np.round(lo + r.random(n) * (hi - lo), 2)


def _ts(ms):
    return pa.array(np.asarray(ms, dtype=np.int64) * 1000, type=pa.timestamp("us"))


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def star(out, seed, events, orders, customers, parts, suppliers, device_skew,
         events_per_device_day):
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))
    _write(f"{out}/region.parquet", {
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": i32(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)])})
    r = _rng(seed, 1)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(f"{out}/customer.parquet", {
        "c_custkey": i64(range(customers)),
        "c_name": [f"Customer#{i:09d}" for i in range(customers)],
        "c_nationkey": i32(r.integers(0, 25, customers)),
        "c_acctbal": _money(r, customers, -999, 9999),
        "c_mktsegment": segs[r.integers(0, 5, customers)].tolist()})
    r = _rng(seed, 2)
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": i64(range(suppliers)),
        "s_name": [f"Supplier#{i:09d}" for i in range(suppliers)],
        "s_nationkey": i32(r.integers(0, 25, suppliers)),
        "s_acctbal": _money(r, suppliers, -999, 9999)})
    r = _rng(seed, 3)
    colors = np.array(["red", "blue", "green", "small", "large", "steel"])
    things = np.array(["widget", "bolt", "ring", "gear", "panel"])
    types = np.array(["ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE"])
    _write(f"{out}/part.parquet", {
        "p_partkey": i64(range(parts)),
        "p_name": [f"{c} {t}" for c, t in zip(colors[r.integers(0, 6, parts)], things[r.integers(0, 5, parts)])],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, parts)],
        "p_type": types[r.integers(0, 5, parts)].tolist(),
        "p_size": i32(r.integers(1, 51, parts)),
        "p_retailprice": np.round(900.0 + (np.arange(parts) % 1000) * 0.1, 2)})
    r = _rng(seed, 4)
    order_day = ORDER_EPOCH_DAY + r.integers(0, ORDER_DAYS, orders)
    _write(f"{out}/orders.parquet", {
        "o_orderkey": i64(range(orders)),
        "o_custkey": i64(r.integers(0, customers, orders)),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, orders)].tolist(),
        "o_totalprice": _money(r, orders, 1000, 500000),
        "o_orderdate": _ts(order_day * 86400000),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            r.integers(0, 5, orders)].tolist()})
    r = _rng(seed, 5)
    per = r.integers(1, 8, orders)  # 1..7 lines per order, the TPC-H shape
    okey = np.repeat(np.arange(orders), per)
    line = np.concatenate([np.arange(1, k + 1) for k in per])
    n = len(okey)
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": i64(okey), "l_partkey": i64(r.integers(0, parts, n)),
        "l_suppkey": i64(r.integers(0, suppliers, n)), "l_linenumber": i32(line),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(r, n, 900, 100000),
        "l_discount": r.integers(0, 11, n) / 100.0, "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)].tolist(),
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)].tolist(),
        "l_shipdate": _ts((np.repeat(order_day, per) + r.integers(1, 31, n)) * 86400000)})
    r = _rng(seed, 6)
    # events spread evenly over EVENT_DAYS, each from a device drawn as
    # u^device_skew over the population (uniform at the measured skew of
    # 1); the new-device share then arises as in the testdata
    devices = max(10, round(events / (events_per_device_day * EVENT_DAYS)))
    users = (r.random(events) ** device_skew * devices).astype(np.int64)
    span = EVENT_DAYS * 86400000
    day = np.arange(events) * EVENT_DAYS // events
    first_day = np.full(devices, EVENT_DAYS)
    np.minimum.at(first_day, users, day)
    seen = first_day < EVENT_DAYS
    _write(f"{out}/events.parquet", {
        "event_id": i64(range(events)),
        "ts": _ts(EVENT_EPOCH_MS + np.arange(events, dtype=np.int64) * span // events
                  + r.integers(0, 1000, events)),
        "user_id": i64(users),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, events)].tolist(),
        "value": _money(r, events, 0, 20),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, events)]})
    return {"devices": int(seen.sum()),
            "new_device_share": round(float((first_day[seen] > 0).mean()), 4)}


def documents(out, truth, seed, n, exact_share, near_share):
    """Base documents, then planted exact copies and near copies (last token
    changed) of random base documents, shuffled together."""
    r = _rng(seed, 7)
    n_exact, n_near = int(n * exact_share), int(n * near_share)
    n_base = n - n_exact - n_near
    # languages in their exact shares, shuffled, so every seed has the
    # same mix
    langs = [LANGS[k] for k in r.permutation(np.arange(n_base) % len(LANGS))]
    texts = []
    for b, lang in enumerate(langs):
        words = VOCAB[lang].split()
        k = int(r.integers(30, 61))
        texts.append(" ".join(words[j] for j in r.integers(0, len(words), k)) + f" d{b}")
    src = np.concatenate([np.arange(n_base), r.integers(0, n_base, n_exact + n_near)])
    kind = np.array([0] * n_base + [1] * n_exact + [2] * n_near)
    text = [texts[s] if k < 2 else texts[s].rsplit(" ", 1)[0] + f" n{s}" for s, k in zip(src, kind)]
    order = r.permutation(n)  # doc_id of row i is position of i in the shuffle
    doc_id = np.empty(n, dtype=np.int64)
    doc_id[order] = np.arange(n)
    base_id = doc_id[src]
    pick = np.argsort(doc_id)
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(doc_id[pick]), "text": [text[i] for i in pick],
        "lang": [langs[src[i]] for i in pick],
        "source": [f"src{s}" for s in r.integers(0, 20, n)],
        "n_chars": pa.array(np.array([len(text[i]) for i in pick], dtype=np.int64))})
    _write(f"{truth}/documents_truth.parquet", {
        "doc_id": pa.array(doc_id[pick]), "kind": pa.array(kind[pick].astype(np.int32)),
        "base_id": pa.array(base_id[pick].astype(np.int64))})


def generate(workload, seed, out, truth):
    """Write `workload`'s inputs under `out` (engine input) and `truth`
    (planted facts the checks compare against); return what the generated
    input holds, such as its realised new-device share."""
    spec = WORKLOADS[workload]
    t = {k: v[0] for k, v in spec["traffic"].items()}
    os.makedirs(out, exist_ok=True)
    os.makedirs(truth, exist_ok=True)
    tables = spec["tables"]
    facts = {}
    if "events" in tables:
        facts = star(out, seed, **{k: tables[k] for k in STAR}, device_skew=t["device_skew"],
                     events_per_device_day=t["events_per_device_day"])
    if "documents" in tables:
        documents(out, truth, seed, tables["documents"], t["planted_duplicate_share"] / 2,
                  t["planted_duplicate_share"] / 2)
    return facts


def describe(workload):
    spec = WORKLOADS[workload]
    return {"tables": spec["tables"],
            "traffic": {k: {"value": v[0], "why": v[1]} for k, v in spec["traffic"].items()}}


def write_description(workload, path, gen_s, generated):
    d = describe(workload)
    d["generate_s"] = gen_s
    d["generated"] = generated
    with open(path, "w") as fh:
        json.dump(d, fh)
