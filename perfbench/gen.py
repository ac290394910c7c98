"""Seeded input generators for the graft benchmark.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical files, another seed writes other files.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _rng(seed, *stream):
    return np.random.default_rng(np.random.SeedSequence([seed, *stream]))


def _write(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _fresh(path):
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)


def _money(rng, lo, hi, n):
    """Uniform values with two decimals, as the TPC-H money columns."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(rng, start, end, n):
    """Timestamps at midnight, uniform between two ISO dates."""
    a = np.datetime64(start, "D").astype(np.int64)
    b = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(a, b + 1, n) * 86400 * 1_000_000).astype("datetime64[us]")


# ---------------------------------------------------------------- catalog

CATALOG_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
                 "filter", "group", "hash", "join", "key", "line", "merge", "order",
                 "part", "query", "row", "scan", "slow", "small", "sort", "spark",
                 "stream", "table", "the", "value", "vector", "window"]


def catalog(out, seed, scale):
    """TPC-H-like star schema plus the events, documents and embeddings
    tables the catalog queries read, at `scale` (1.0 = 6M lineitems)."""
    _fresh(out)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_doc = int(1_000_000 * scale), int(50_000 * scale)
    n_emb = int(min(max(50_000 * scale, 500), 2000))

    def w(name, cols):
        _write(pa.table(cols), f"{out}/{name}.parquet")

    w("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                 "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    w("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                 "n_name": [f"NATION_{i}" for i in range(25)],
                 "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, 1)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    w("customer", {"c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                   "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                   "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
                   "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
                   "c_mktsegment": segs[r.integers(0, 5, n_cust)]})
    r = _rng(seed, 2)
    w("supplier", {"s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                   "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                   "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
                   "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})
    r = _rng(seed, 3)
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = np.array([f"{a} {n}" for a in adj for n in noun])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    keys = np.arange(n_part)
    w("part", {"p_partkey": pa.array(keys, pa.int64()),
               "p_name": names[r.integers(0, len(names), n_part)],
               "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
               "p_type": types[r.integers(0, 6, n_part)],
               "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
               "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})
    r = _rng(seed, 4)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    w("orders", {"o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                 "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
                 "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
                 "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
                 "o_orderdate": _days(r, "1995-01-01", "2001-08-01", n_ord),
                 "o_orderpriority": prio[r.integers(0, 5, n_ord)]})
    r = _rng(seed, 5)
    qty = r.integers(1, 51, n_line).astype(np.float64)
    w("lineitem", {"l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
                   "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
                   "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
                   "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
                   "l_quantity": qty,
                   "l_extendedprice": np.round(qty * _money(r, 900.0, 2000.0, n_line), 2),
                   "l_discount": r.integers(0, 11, n_line) / 100.0,
                   "l_tax": r.integers(0, 9, n_line) / 100.0,
                   "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
                   "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
                   "l_shipdate": _days(r, "1995-01-02", "2001-11-04", n_line)})
    r = _rng(seed, 6)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + r.integers(0, 30 * 86400 * 1_000_000, n_ev))
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    w("events", {"event_id": pa.array(np.arange(n_ev), pa.int64()),
                 "ts": ts.astype("datetime64[us]"),
                 "user_id": pa.array(r.integers(0, max(n_ev // 66, 10), n_ev), pa.int64()),
                 "event_type": kinds[r.integers(0, 5, n_ev)],
                 "value": np.round(r.exponential(50.0, n_ev), 2) + 0.01,
                 "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})

    r = _rng(seed, 7)
    vocab = np.array(CATALOG_WORDS)
    texts = []
    for i in range(n_doc):
        if i > 0 and r.random() < 0.05:  # near copy of an earlier doc
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[r.integers(0, len(vocab), int(r.integers(10, 100)))]))
    langs = np.array(["de", "en", "en", "en", "es", "fr", "zh"])
    w("documents", {"doc_id": pa.array(np.arange(n_doc), pa.int64()),
                    "text": texts,
                    "lang": langs[r.integers(0, len(langs), n_doc)],
                    "source": [f"src{s}" for s in r.integers(0, 20, n_doc)],
                    "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    r = _rng(seed, 8)
    labels = r.integers(0, 10, n_emb)
    centers = r.normal(0.0, 1.0, (10, 64))
    v = centers[labels] * 0.3 + r.normal(0.0, 1.0, (n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    w("embeddings", {"vec_id": pa.array(np.arange(n_emb), pa.int64()),
                     "embedding": pa.array(list(v), pa.list_(pa.float32())),
                     "label": pa.array(labels, pa.int32())})
    return {"lineitem_rows": n_line, "orders_rows": n_ord, "events_rows": n_ev,
            "documents_rows": n_doc, "embeddings_rows": n_emb}


# ------------------------------------------------------------------ KITTI

# a real KITTI calibration (2011_09_26); every drive perturbs it slightly
_TR = np.array([7.533745e-03, -9.999714e-01, -6.166020e-04, -4.069766e-03,
                1.480249e-02, 7.280733e-04, -9.998902e-01, -7.631618e-02,
                9.998621e-01, 7.523790e-03, 1.480755e-02, -2.717806e-01])
_R0 = np.array([9.999239e-01, 9.837760e-03, -7.445048e-03, -9.869795e-03,
                9.999421e-01, -4.278459e-03, 7.402527e-03, 4.351614e-03, 9.999631e-01])
_P2 = np.array([7.215377e+02, 0.0, 6.095593e+02, 4.485728e+01, 0.0, 7.215377e+02,
                1.728540e+02, 2.163791e-01, 0.0, 0.0, 1.0, 2.745884e-03])
_CLASSES = ["Car", "Car", "Car", "Van", "Pedestrian", "Cyclist", "Truck"]


def _fmt(vals):
    return " ".join(f"{v:.6e}" for v in vals)


def kitti(out, seed, drives, frames, points):
    """`drives` KITTI drive directories of `frames` frames each; a frame
    holds about `points` lidar points (float32 x, y, z, intensity, little
    endian), a label_2 file with 15 fields a row including DontCare rows,
    and a calib file with P2, R0_rect and Tr_velo_to_cam."""
    _fresh(out)
    total = 0
    for d in range(drives):
        r = _rng(seed, 100 + d)
        base = f"{out}/drive{d:02d}"
        for sub in ("velodyne", "label_2", "calib"):
            os.makedirs(f"{base}/{sub}")
        tr = _TR + r.normal(0.0, 1e-3, 12)
        for f in range(frames):
            fid = d * 1000 + f
            n = int(points * r.uniform(0.8, 1.2))
            total += n
            # a ring-shaped scan around the car plus a ground plane
            rad = np.sqrt(r.uniform(4.0, 80.0 ** 2, n))
            ang = r.uniform(-np.pi, np.pi, n)
            pts = np.empty((n, 4), np.float32)
            pts[:, 0] = rad * np.cos(ang)
            pts[:, 1] = rad * np.sin(ang)
            pts[:, 2] = -1.73 + r.normal(0.0, 0.6, n) + (r.random(n) < 0.3) * r.uniform(0, 3, n)
            pts[:, 3] = r.uniform(0.0, 1.0, n)
            pts.astype("<f4").tofile(f"{base}/velodyne/{fid:06d}.bin")
            rows = []
            for _ in range(int(r.integers(2, 9))):
                h, wd, ln = r.uniform(1.4, 3.2), r.uniform(0.5, 2.6), r.uniform(0.6, 12.0)
                x, y, z = r.uniform(-25, 25), r.uniform(1.2, 2.2), r.uniform(4, 70)
                ry = r.uniform(-np.pi, np.pi)
                left, top = r.uniform(0, 1100), r.uniform(100, 300)
                rows.append(f"{_CLASSES[int(r.integers(0, len(_CLASSES)))]} "
                            f"{r.uniform(0, 0.9):.2f} {int(r.integers(0, 4))} {r.uniform(-3, 3):.2f} "
                            f"{left:.2f} {top:.2f} {left + r.uniform(20, 200):.2f} "
                            f"{top + r.uniform(20, 100):.2f} {h:.2f} {wd:.2f} {ln:.2f} "
                            f"{x:.2f} {y:.2f} {z:.2f} {ry:.2f}")
            for _ in range(int(r.integers(0, 3))):
                left, top = r.uniform(0, 1100), r.uniform(100, 300)
                rows.append(f"DontCare -1 -1 -10 {left:.2f} {top:.2f} {left + 30:.2f} "
                            f"{top + 20:.2f} -1 -1 -1 -1000 -1000 -1000 -10")
            with open(f"{base}/label_2/{fid:06d}.txt", "w") as fh:
                fh.write("\n".join(rows) + "\n")
            with open(f"{base}/calib/{fid:06d}.txt", "w") as fh:
                fh.write(f"P2: {_fmt(_P2)}\nR0_rect: {_fmt(_R0)}\n"
                         f"Tr_velo_to_cam: {_fmt(tr)}\n")
    return {"drives": drives, "frames": drives * frames, "points": total}


# ----------------------------------------------------------------- ingest

_HOSTS = [f"site{i}.example.org" for i in range(40)]
_STOPS = ["the", "and", "of", "to", "with", "that"]


def _vocab(r, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        words.add("".join(letters[r.integers(0, 26, int(r.integers(3, 10)))]))
    return np.array(sorted(words))


def ingest(out, seed, batches, docs):
    """`batches` crawl batches of `docs` (url, doc_id, text) rows. Besides
    fresh docs each batch plants known drops: chrome variants of an earlier
    URL, exact text copies, near copies with one word changed and docs that
    fail the Gopher shape rules. `plan.json` lists every planted drop with
    the doc it copies."""
    _fresh(out)
    r = _rng(seed, 200)
    vocab = _vocab(r, 6000)

    def new_text():
        # 120-260 words of 3-9 letters with stop words inside: passes the
        # Gopher shape rules, and shares almost no shingles with any
        # other doc
        words = list(vocab[r.integers(0, len(vocab), int(r.integers(120, 260)))])
        for _ in range(4):
            words.insert(int(r.integers(1, len(words))), _STOPS[int(r.integers(0, len(_STOPS)))])
        return " ".join(words)

    fresh = []  # (doc_id, url, text) of fresh docs so far
    plan = {"fresh": [], "drops": []}
    next_id = 0
    for b in range(batches):
        rows = []
        n_drop = docs // 10 if b > 0 else docs // 20
        for _ in range(docs - n_drop):
            url = f"https://{_HOSTS[int(r.integers(0, len(_HOSTS)))]}/p/{next_id}-{int(r.integers(0, 1 << 30))}"
            rows.append((next_id, url, new_text()))
            fresh.append(rows[-1])
            plan["fresh"].append(next_id)
            next_id += 1
        for k in range(n_drop):
            src = fresh[int(r.integers(0, len(fresh) - (docs - n_drop) // 2))]
            kind = ("url_variant", "exact_copy", "near_copy", "gopher_fail")[k % 4]
            if kind == "url_variant":
                host_path = src[1].split("://", 1)[1]
                url = f"HTTPS://www.{host_path.split('/', 1)[0]}:443/{host_path.split('/', 1)[1]}" \
                      f"?utm_source=feed{k}#top"
                text = new_text()
            elif kind == "exact_copy":
                url, text = f"https://mirror{k}.example.net/copy/{next_id}", src[2]
            elif kind == "near_copy":
                # one letter inside one word changes: 3 of ~800 character
                # 3-shingles differ (Jaccard >= 0.99), so the near-dup
                # gate's 16-band LSH keeps its design miss rate below 1e-6
                words = src[2].split(" ")
                i = int(r.integers(0, len(words)))
                while len(words[i]) < 3:
                    i = (i + 1) % len(words)
                w = words[i]
                j = len(w) // 2
                words[i] = w[:j] + ("q" if w[j] != "q" else "z") + w[j + 1:]
                url, text = f"https://mirror{k}.example.net/near/{next_id}", " ".join(words)
            else:
                url = f"https://spam{k}.example.net/s/{next_id}"
                text = " ".join(vocab[r.integers(0, len(vocab), int(r.integers(5, 40)))])
            rows.append((next_id, url, text))
            plan["drops"].append({"doc_id": next_id, "kind": kind,
                                  "of": None if kind == "gopher_fail" else src[0]})
            next_id += 1
        order = r.permutation(len(rows))
        rows = [rows[i] for i in order]
        _write(pa.table({"url": [x[1] for x in rows],
                         "doc_id": pa.array([x[0] for x in rows], pa.int64()),
                         "text": [x[2] for x in rows]}), f"{out}/batch_{b:03d}.parquet")
    with open(f"{out}/plan.json", "w") as fh:
        json.dump(plan, fh, sort_keys=True)
    return {"batches": batches, "docs": next_id, "planted_drops": len(plan["drops"])}
