"""Seeded input generators for the benchmark workloads.

Every input the program sees comes from here, from the run's seed alone:
the same seed writes byte-identical files. Nothing is read from outside the
checkout.

- `tables`: the sf0.1-shaped Parquet tables the kept queries and the
  kernel probes read: lineitem, events, documents and embeddings (one file
  per table, the layout the program's readers expect).
- `landsat`: a pipeline input tree in the `fixtures/` layout (scene
  JSONL, one station list and one MTL JSON per scene, daily ground truth
  with gaps, station catalog), plus the facts the output checks need.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def _ts(start, seconds):
    base = np.datetime64(start, "us")
    return base + (np.asarray(seconds) * 1e6).astype("timedelta64[us]")


def tables(out, seed):
    """sf0.1-shaped lineitem, events, documents and embeddings."""
    os.makedirs(out, exist_ok=True)
    r = np.random.default_rng([seed, 1])
    w = lambda name, cols: _write(os.path.join(out, f"{name}.parquet"), cols)

    # Key ranges of the sf0.1 orders, part and supplier tables, which no
    # kept workload reads.
    n_ord, n_part, n_supp, n_li = 150000, 20000, 1000, 600000
    days_l = (dt.date(2001, 11, 4) - dt.date(1992, 1, 2)).days
    qty = r.integers(1, 51, n_li).astype(np.float64)
    w("lineitem", {
        "l_orderkey": r.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _ts("1992-01-02", r.integers(0, days_l + 1, n_li)
                          * 86400)})

    n_ev = 100000
    secs = np.sort(r.uniform(11.0, 30 * 86400.0, n_ev))
    w("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", secs),
        "user_id": r.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})

    # 5,000 documents of 10-100 tokens over a 30-word vocabulary; 250 are
    # an earlier document plus a " dup" suffix and 8 are exact copies, the
    # near-duplicate density the dedup operators are built for.
    n_doc = 5000
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[r.integers(0, len(vocab), int(n))])
             for n in r.integers(10, 101, n_doc)]
    for i in r.choice(np.arange(100, n_doc), 258, replace=False)[:250]:
        texts[i] = texts[int(r.integers(0, i))] + " dup"
    for i in r.choice(np.arange(100, n_doc), 8, replace=False):
        texts[i] = texts[int(r.integers(0, i))]
    langs = np.array(["en", "en", "en", "en", "en", "en", "en", "en", "de",
                      "es", "fr", "zh", "de", "es", "fr", "zh", "de", "es",
                      "fr", "zh"])
    w("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[r.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    n_vec, dim = 2000, 64
    v = r.standard_normal((n_vec, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    w("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_vec).astype(np.int32)})


# The reference's mission mix over its 1,298 scenes.
MISSIONS = [("LC08", 736, 11), ("LT05", 492, 7), ("LC09", 67, 11),
            ("LO08", 3, 9)]
MISSION_YEARS = {"LC08": (2013, 2023), "LT05": (1990, 2011),
                 "LC09": (2021, 2023), "LO08": (2013, 2014)}
THERMAL = {"LC08": "10", "LC09": "10", "LT05": "6"}


def landsat(out, seed, scale):
    """Pipeline input tree at `scale` times the reference's scene count.

    Returns the facts the output checks use: the labelled-sample count the
    pipeline must produce, and how many scenes and ground-truth rows exist.
    """
    r = np.random.default_rng([seed, 2])
    for sub in ("scenes", "stations", "metadatas"):
        os.makedirs(os.path.join(out, sub), exist_ok=True)
    ids = np.sort(r.choice(np.arange(1, 251), 170, replace=False))
    with open(os.path.join(out, "stations_catalog.csv"), "w") as f:
        f.write("id,name,longitude,latitude\n")
        for i in ids:
            f.write(f"{i},STATION_{i},{r.uniform(34.2, 35.9):.4f},"
                    f"{r.uniform(29.5, 33.3):.4f}\n")
    catalog = set(int(i) for i in ids)
    scenes, seen = [], set()
    for mission, n_ref, n_bands in MISSIONS:
        y0, y1 = MISSION_YEARS[mission]
        n = max(1, round(n_ref * scale))
        while n:
            day = dt.date(y0, 1, 1) + dt.timedelta(
                days=int(r.integers(0, (dt.date(y1, 12, 31)
                                        - dt.date(y0, 1, 1)).days)))
            path_row = ("174038", "175037")[int(r.integers(0, 2))]
            sid = (f"{mission}_L1TP_{path_row}_{day:%Y%m%d}_"
                   f"{day.year + 1}0101_02_T1")
            if sid in seen:
                continue
            seen.add(sid)
            scenes.append((sid, mission, n_bands, day))
            n -= 1
    # Daily ground truth for every catalog station over a window around
    # each acquisition, with 8% of (day, station) readings missing: those
    # samples fall to the -9999 sentinel and are dropped by the pipeline.
    days = sorted({s[3] + dt.timedelta(days=k)
                   for s in scenes for k in range(-3, 4)})
    gt = set()
    with open(os.path.join(out, "ground_truths.csv"), "w") as f:
        f.write("utc_date,station_id,air_temp\n")
        for day in days:
            keep = r.random(len(ids)) >= 0.08
            temps = r.normal(22.0, 7.0, len(ids))
            for i, k, t in zip(ids, keep, temps):
                if k:
                    gt.add((day, int(i)))
                    f.write(f"{day},{i},{t:.2f}\n")
    expected = 0
    # 5 to 93 stations per scene, spread evenly and shuffled, so the total
    # number of samples, and with it the work per pass, is the same for
    # every seed.
    counts = r.permutation(np.linspace(5, 93, len(scenes)).round().astype(int))
    with open(os.path.join(out, "scenes", "scenes.jsonl"), "w") as f:
        for i, (sid, mission, n_bands, day) in enumerate(scenes):
            lo, hi = (40, 250) if mission == "LT05" else (7000, 30000)
            bands = r.integers(lo, hi, (n_bands, 49)).tolist()
            f.write(json.dumps({"scene_id": sid, "bands": bands}) + "\n")
            n_st = int(counts[i])
            st = r.choice(ids, n_st, replace=False).tolist()
            # One in ten lists carries a station outside the catalog, which
            # the catalog join must drop.
            if r.random() < 0.1:
                st[int(r.integers(0, n_st))] = 251 + int(r.integers(0, 50))
            with open(os.path.join(out, "stations",
                                   f"{sid}_stations.txt"), "w") as g:
                g.write("[" + ", ".join(str(s) for s in st) + "]")
            mtl = {}
            resc = {}
            for b in range(1, n_bands + 1):
                resc[f"RADIANCE_MULT_BAND_{b}"] = (
                    f"{r.uniform(1e-2, 1e-1) if mission != 'LT05' else r.uniform(0.5, 1.5):.4E}")
                resc[f"RADIANCE_ADD_BAND_{b}"] = f"{r.uniform(0.1, 0.6):.5f}"
            mtl["LEVEL1_RADIOMETRIC_RESCALING"] = resc
            if mission in THERMAL:
                tb = THERMAL[mission]
                mtl["LEVEL1_THERMAL_CONSTANTS"] = {
                    f"K1_CONSTANT_BAND_{tb}": f"{r.uniform(600, 800):.2f}",
                    f"K2_CONSTANT_BAND_{tb}": f"{r.uniform(1200, 1330):.2f}"}
                expected += sum(1 for s in st
                                if s in catalog and (day, s) in gt)
            mtl["IMAGE_ATTRIBUTES"] = {"SPACECRAFT_ID": mission,
                                       "DATE_ACQUIRED": str(day)}
            with open(os.path.join(out, "metadatas",
                                   f"{sid}_MTL_metadata.json"), "w") as g:
                json.dump({"LANDSAT_METADATA_FILE": mtl}, g, indent=2)
    return {"scenes": len(scenes), "ground_truth_rows": len(gt),
            "labelled_samples": expected}
