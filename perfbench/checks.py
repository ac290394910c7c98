"""Output checks for the graft benchmark. They run after the timed
region, on files the program wrote. Each check returns a list of
(op name, error message) failures; an empty list means every output is
correct."""
import glob
import json
import math
import os

import duckdb
import numpy as np


# ---------------------------------------------------------------- catalog

def _canon(df):
    """Sort columns by name and rows by every column, as the repo's oracle
    compare does."""
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _compare(got, want):
    """None when equal, else what differs. Floats compare by their bits
    (0.0 and -0.0 differ, as in a byte hash), except that a value one ulp
    from the oracle's passes: DuckDB's DECIMAL to DOUBLE cast is not
    correctly rounded (k10_density_patches' avg_d reads one ulp below the
    exact quotient, which Spark returns). Returns (error, ulp_diffs)."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}", 0
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}", 0
    ulps = 0
    for c in got.columns:
        g, w = got[c], want[c]
        if g.dtype != w.dtype:
            return f"{c}: dtype {g.dtype} != {w.dtype}", ulps
        if g.dtype.kind == "f":
            gb = g.to_numpy(dtype="f8").view("i8")
            wb = w.to_numpy(dtype="f8").view("i8")
            dist = np.abs(gb - wb)
            ulps += int(np.count_nonzero(dist == 1))
            neq = dist > 1
        else:
            neq = ~(g.eq(w) | (g.isna() & w.isna())).to_numpy()
        if neq.any():
            i = int(np.argmax(neq))
            return f"{c}[{i}]: {g[i]!r} != {w[i]!r}", ulps
    return None, ulps


def catalog(tables_dir, verify_dir, oracle_path, names, ulp_diffs=None):
    """Each query's full result, as written by the verification pass,
    against its DuckDB oracle SQL over the same generated tables. Counts
    of one-ulp float differences go to `ulp_diffs` by query name."""
    oracle = json.load(open(oracle_path)) if os.path.exists(oracle_path) else {}
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in glob.glob(f"{tables_dir}/*.parquet"):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    failures = []
    for n in names:
        files = glob.glob(f"{verify_dir}/{n}/*.parquet")
        if not files:
            failures.append((n, "no output"))
            continue
        if n not in oracle:
            failures.append((n, "no oracle SQL"))
            continue
        try:
            got = _canon(con.sql(f"SELECT * FROM '{verify_dir}/{n}/*.parquet'").df())
            want = _canon(con.sql(oracle[n]).df())
        except Exception as e:  # a failing oracle read is a failed check, reported by name
            failures.append((n, f"oracle compare raised {type(e).__name__}: {e}"[:300]))
            continue
        err, ulps = _compare(got, want)
        if ulps and ulp_diffs is not None:
            ulp_diffs[n] = ulps
        if err:
            failures.append((n, err))
    return failures


# ------------------------------------------------------------------ KITTI

def _calib(path):
    mats = {}
    for line in open(path).read().splitlines():
        key, _, vals = line.partition(":")
        mats[key] = np.array([float(v) for v in vals.split()])
    return mats


def _calibrate(pts, mats):
    """Spark's column arithmetic, in the same order: Tr_velo_to_cam, then
    R0_rect, then the axis remap (x, z, -y)."""
    x, y, z = (pts[:, i].astype(np.float64) for i in range(3))
    t, r = mats["Tr_velo_to_cam"], mats["R0_rect"]
    c = [t[4 * i] * x + t[4 * i + 1] * y + t[4 * i + 2] * z + t[4 * i + 3] for i in range(3)]
    q = [r[3 * i] * c[0] + r[3 * i + 1] * c[1] + r[3 * i + 2] * c[2] for i in range(3)]
    return q[0], q[2], -q[1] + 0.0


def _percentile(v, p):
    """Spark's exact `percentile`: linear between the two ranks around
    (n - 1) * p."""
    s = np.sort(v)
    pos = (len(s) - 1) * p
    lo, hi = math.floor(pos), math.ceil(pos)
    if lo == hi or s[lo] == s[hi]:
        return float(s[lo])
    return (hi - pos) * s[lo] + (pos - lo) * s[hi]


def _labels(path):
    rows = []
    for line in open(path).read().splitlines():
        f = line.split(" ")
        if len(f) >= 15 and f[0] != "DontCare":
            rows.append([float(v) for v in f[8:15]])
    return np.array(rows).reshape(-1, 7)


def _area_bounds(drive):
    """The reference analysis (Analysis.referenceAnalysis) recomputed from
    the generated files, before rounding."""
    pmin, pmax = np.full(3, np.inf), np.full(3, -np.inf)
    cmin, cmax = np.full(3, np.inf), np.full(3, -np.inf)
    lmin, lmax = np.full(3, np.inf), np.full(3, -np.inf)
    dmax = np.full(3, -np.inf)
    for b in sorted(glob.glob(f"{drive}/velodyne/*.bin")):
        fid = os.path.basename(b)[:-4]
        pts = np.fromfile(b, "<f4").reshape(-1, 4)
        x, y, z = _calibrate(pts, _calib(f"{drive}/calib/{fid}.txt"))
        z5 = _percentile(z, 0.05)
        zn = z - z5
        for i, v in enumerate((x, y, zn)):
            pmin[i], pmax[i] = min(pmin[i], v.min()), max(pmax[i], v.max())
        lab = _labels(f"{drive}/label_2/{fid}.txt")
        for h, w, l, lx, ly, lz, ry in lab:
            for sx, sy, sz in ((-.5, 0, -.5), (.5, 0, -.5), (.5, 0, .5), (-.5, 0, .5),
                               (-.5, -1, -.5), (.5, -1, -.5), (.5, -1, .5), (-.5, -1, .5)):
                fx = math.cos(ry) * (sx * l) + math.sin(ry) * (sz * w) + lx
                fy = sy * h + ly
                fz = -math.sin(ry) * (sx * l) + math.cos(ry) * (sz * w) + lz
                for i, v in enumerate((fx, fz, -fy - z5)):
                    cmin[i], cmax[i] = min(cmin[i], v), max(cmax[i], v)
            for i, v in enumerate((lx, lz - z5, ly)):
                lmin[i], lmax[i] = min(lmin[i], v), max(lmax[i], v)
            for i, v in enumerate((l, w, h)):
                dmax[i] = max(dmax[i], v)
    seedmin = lambda v: 1e8 if math.isinf(v) else min(v, 1e8)
    seedmax = lambda v: 1e-8 if math.isinf(v) else max(v, 1e-8)
    mp, xp = [seedmin(v) for v in pmin], [seedmax(v) for v in pmax]
    mc, xc = [seedmin(v) for v in cmin], [seedmax(v) for v in cmax]
    ml, xl = [seedmin(v) for v in lmin], [seedmax(v) for v in lmax]
    md = [seedmax(v) for v in dmax]
    return [
        [max(mp[i], max(mc[i], ml[i] - md[i])) for i in range(3)],
        [min(xp[i], min(xc[i], xl[i] + md[i])) for i in range(3)],
        [max(mp[i], min(mc[i], ml[i] - md[i])) for i in range(3)],
        [min(xp[i], max(xc[i], xl[i] + md[i])) for i in range(3)],
    ]


def kitti(input_dir, ops, check_files):
    """AreaBounds to 2 dp, the per-frame cut-out counts behind the stats
    row, and (for `check_files` ops) every written .bin byte for byte."""
    failures = []
    cache = {}
    for op in ops:
        if not op["ok"]:
            continue
        name, info = op["op"], op["info"]
        drive = f"{input_dir}/{name}"
        if name not in cache:
            cache[name] = _area_bounds(drive)
        want = cache[name]
        got = info["bounds"]
        bad = [(i, j) for i in range(4) for j in range(3)
               if abs(got[i][j] - want[i][j]) > 0.005 + 1e-9]
        if bad:
            failures.append((name, f"AreaBounds differ at {bad[:3]}: {got} vs {want}"))
            continue
        lo, hi = got[2], got[3]
        counts, differing = [], []
        for b in sorted(glob.glob(f"{drive}/velodyne/*.bin")):
            fid = os.path.basename(b)[:-4]
            pts = np.fromfile(b, "<f4").reshape(-1, 4)
            x, y, z = _calibrate(pts, _calib(f"{drive}/calib/{fid}.txt"))
            keep = ((x > lo[0]) & (y > lo[1]) & (z > lo[2]) &
                    (x < hi[0]) & (y < hi[1]) & (z < hi[2]))
            counts.append(int(keep.sum()))
            if op in check_files:
                quads = np.stack([x[keep], y[keep], z[keep],
                                  pts[keep, 3].astype(np.float64)], axis=1).astype("<f4")
                out = f"{info['out']}/{fid}.bin"
                if not os.path.exists(out) or open(out, "rb").read() != quads.tobytes():
                    differing.append(fid)
        if differing:
            failures.append((name, f"cut-out frames {differing} differ from the recomputed points"))
        st = info["stats"]
        want_st = {"min_pts": min(counts), "max_pts": max(counts),
                   "avg_pts": sum(counts) / len(counts), "n_frames": len(counts)}
        if any(abs(st[k] - v) > 1e-9 for k, v in want_st.items()):
            failures.append((name, f"stats {st} != {want_st}"))
    return failures


# ----------------------------------------------------------------- ingest

def _gopher_keep(text):
    """The Gopher rules that the generated docs can trip: word count, mean
    word length and stop words."""
    words = text.strip().split()
    n = max(len(words), 1)
    mean_len = len(text.replace(" ", "")) / n
    stops = sum(text.count(f" {s} ") for s in ("the", "be", "to", "of", "and", "that", "have", "with"))
    return 50 <= len(words) <= 100000 and 3.0 <= mean_len <= 10.0 and stops >= 2


def ingest(input_dir, state_dirs, ops_by_pass, fpp=0.01):
    """No doc_id and no text ships twice; every planted drop stays out of
    the shards (a copy is excused only when the doc it copies did not ship
    either); and fresh docs lost to the bloom frontiers stay within the
    design false-positive rate: at most `fpp` per probed epoch."""
    plan = json.load(open(f"{input_dir}/plan.json"))
    batches = sorted(glob.glob(f"{input_dir}/batch_*.parquet"))
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    keepers = []  # Gopher-passing fresh doc ids, per batch
    fresh = set(plan["fresh"])
    for b in batches:
        rows = con.sql("SELECT doc_id, text FROM read_parquet(?)", params=[b]).fetchall()
        keepers.append([d for d, t in rows if d in fresh and _gopher_keep(t)])
    failures = []
    for p, (st, ops) in enumerate(zip(state_dirs, ops_by_pass)):
        tag = f"pass{p}"
        batch_ops = [o for o in ops if o["kind"] == "batch"]
        if len(batch_ops) != len(batches) or not all(o["ok"] for o in batch_ops):
            continue  # the failed batch is already counted
        files = glob.glob(f"{st}/shards/**/*.parquet", recursive=True)
        shipped = con.sql("SELECT doc_id, text FROM read_parquet(?)", params=[files]).fetchall() \
            if files else []
        ids = [d for d, _ in shipped]
        got = set(ids)
        if len(ids) != len(got):
            failures.append((tag, f"{len(ids) - len(got)} doc_ids shipped twice"))
        texts = [t for _, t in shipped]
        if len(texts) != len(set(texts)):
            failures.append((tag, f"{len(texts) - len(set(texts))} texts shipped twice"))
        reported = sum(o["info"]["shipped"] for o in batch_ops)
        if reported != len(ids):
            failures.append((tag, f"batches reported {reported} shipped, shards hold {len(ids)}"))
        for d in plan["drops"]:
            if d["doc_id"] in got and (d["of"] is None or d["of"] in got):
                failures.append((tag, f"planted {d['kind']} {d['doc_id']} shipped"))
        lost = sum(1 for ks in keepers for d in ks if d not in got)
        allowed = fpp * sum(len(ks) * (o["info"].get("epochs:url_bloom", 1) +
                                       o["info"].get("epochs:text_bloom", 1))
                            for ks, o in zip(keepers, batch_ops))
        if lost > allowed:
            failures.append((tag, f"{lost} fresh docs lost, design bound {allowed:.1f}"))
    return failures
