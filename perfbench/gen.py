"""Seeded input tables for the benchmark.

Writes the ten parquet tables the program's loaders read (graft.tables.Tables:
region nation customer supplier part orders lineitem events documents
embeddings) with the schema and value domains of the project's TPC-H-ish test
data, at the sf0.01 row counts, and the views the tool entry points read. The
same seed gives byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}
EVENT_USERS = 150

ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables(seed):
    rng = np.random.default_rng(seed)
    n = ROWS
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    ts = lambda a: pa.array(a, pa.timestamp("us"))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": i32(np.arange(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": i32(np.arange(25)),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": i32(np.arange(25) % 5)})
    ck = np.arange(n["customer"])
    out["customer"] = pa.table({
        "c_custkey": i64(ck),
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": i32(rng.integers(0, 25, len(ck))),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(ck)),
        "c_mktsegment": _pick(rng, SEGMENTS, len(ck))})
    sk = np.arange(n["supplier"])
    out["supplier"] = pa.table({
        "s_suppkey": i64(sk),
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": i32(rng.integers(0, 25, len(sk))),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(sk))})
    pk = np.arange(n["part"])
    out["part"] = pa.table({
        "p_partkey": i64(pk),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, len(pk)), rng.integers(0, 8, len(pk)))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(pk))],
        "p_type": _pick(rng, TYPES, len(pk)),
        "p_size": i32(rng.integers(1, 51, len(pk))),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    ok = np.arange(n["orders"])
    out["orders"] = pa.table({
        "o_orderkey": i64(ok),
        "o_custkey": i64(rng.integers(0, n["customer"], len(ok))),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], len(ok)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, len(ok)),
        "o_orderdate": ts(_days(rng, "1995-01-01", 2405, len(ok))),
        "o_orderpriority": _pick(rng, PRIORITIES, len(ok))})
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n["orders"], m)),
        "l_partkey": i64(rng.integers(0, n["part"], m)),
        "l_suppkey": i64(rng.integers(0, n["supplier"], m)),
        "l_linenumber": i32(rng.integers(1, 8, m)),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": np.round(rng.uniform(0.0, 0.1, m), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, m), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": ts(_days(rng, "1995-01-02", 2499, m))})
    e = n["events"]
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    out["events"] = pa.table({
        "event_id": i64(np.arange(e)),
        "ts": ts(np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]")),
        "user_id": i64(rng.integers(0, EVENT_USERS, e)),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    texts = []
    for _ in range(n["documents"]):
        if texts and rng.random() < 0.004:
            texts.append(texts[rng.integers(0, len(texts))])
            continue
        words = list(_pick(rng, WORDS, int(rng.integers(10, 101))))
        if rng.random() < 0.05:
            words += ["dup"] * int(rng.integers(1, 3))
        texts.append(" ".join(words))
    dk = np.arange(n["documents"])
    out["documents"] = pa.table({
        "doc_id": i64(dk),
        "text": texts,
        "lang": _pick(rng, LANGS, len(dk), p=LANG_P),
        "source": [f"src{k % 20}" for k in dk],
        "n_chars": i64([len(t) for t in texts])})
    v = rng.normal(size=(n["embeddings"], 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": i64(np.arange(n["embeddings"])),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n["embeddings"]))})
    return out


# --- Views the tool entry points read -------------------------------------
#
# Sixteen OPTIMADE providers (the reference's registry size) as overlapping-id
# slices of part, orders and lineitem, so that the same id reaches the
# federation from several providers and dedup and the fair quota do real
# work; plus one single-source view each for the bohrium, openlam and mofs
# tools. Structure properties are functions of the id, so an id served by two
# providers describes the same material; nsites and band_gap come from the
# base row, so they differ between providers.

PROVIDERS = ["alexandria", "cmr", "cod", "mcloud", "mcloudarchive", "mp", "mpdd",
             "mpds", "mpod", "nmd", "odbx", "omdb", "oqmd", "jarvis", "tcod",
             "twodmatpedia"]
ELEMENTS = ["Al", "Co", "Cu", "Fe", "Li", "Mn", "Na", "Ni", "O", "Si", "Ti", "Zn"]
DATABASES = ["CoREMOF 2014", "CoREMOF 2019", "CSD", "hMOF", "IZA", "PCOD-syn", "Tobacco"]


def composition(k):
    """Sorted element list and per-element counts of material id k."""
    picks = [ELEMENTS[k % 12], ELEMENTS[(k // 12) % 12], ELEMENTS[(k // 144) % 12]]
    els = sorted(set(picks[: 1 + k % 3]))
    return els, [1 + (k >> (i + 2)) % 3 for i in range(len(els))]


def hill(els, counts):
    # no C or H in ELEMENTS, so Hill order is alphabetical
    return "".join(e + (str(c) if c > 1 else "") for e, c in zip(els, counts))


def _structure_rows(keys, nsites, band_gap):
    rows = {c: [] for c in ["id", "elements", "nelements", "chemical_formula_reduced",
                            "chemical_formula_descriptive", "chemical_formula_anonymous",
                            "nsites", "space_group_number", "band_gap", "lattice_vectors",
                            "species_at_sites", "cartesian_site_positions"]}
    for k, ns, bg in zip(keys, nsites, band_gap):
        k = int(k)
        els, counts = composition(k)
        rows["id"].append(k)
        rows["elements"].append(els)
        rows["nelements"].append(len(els))
        rows["chemical_formula_reduced"].append(hill(els, counts))
        rows["chemical_formula_descriptive"].append(" ".join(hill([e], [c]) for e, c in zip(els, counts)))
        rows["chemical_formula_anonymous"].append("".join("ABC"[i] for i in range(len(els))))
        rows["nsites"].append(int(ns))
        rows["space_group_number"].append(1 + (k * 13) % 230)
        rows["band_gap"].append(None if k % 11 == 0 else round(float(bg), 2))
        rows["lattice_vectors"].append([[3.0 + (k % 7) * 0.5, 0.0, 0.0],
                                        [0.0, 3.0 + (k % 5) * 0.5, 0.0],
                                        [0.0, 0.0, 3.0 + (k % 3) * 0.5]])
        rows["species_at_sites"].append(els)
        rows["cartesian_site_positions"].append([[0.5 * i, 0.5 * i, 0.5 * i] for i in range(len(els))])
    schema = pa.schema([("id", pa.int64()), ("elements", pa.list_(pa.string())),
                        ("nelements", pa.int32()), ("chemical_formula_reduced", pa.string()),
                        ("chemical_formula_descriptive", pa.string()),
                        ("chemical_formula_anonymous", pa.string()), ("nsites", pa.int32()),
                        ("space_group_number", pa.int32()), ("band_gap", pa.float64()),
                        ("lattice_vectors", pa.list_(pa.list_(pa.float64()))),
                        ("species_at_sites", pa.list_(pa.string())),
                        ("cartesian_site_positions", pa.list_(pa.list_(pa.float64())))])
    return pa.table(rows, schema=schema)


def provider_tables(base):
    part = base["part"].to_pydict()
    orders = base["orders"].to_pydict()
    li = base["lineitem"].to_pydict()
    first = {}
    for i, ok in enumerate(li["l_orderkey"]):
        first.setdefault(ok, i)
    li_keys = sorted(first)
    slices = [
        (np.asarray(part["p_partkey"]), np.asarray(part["p_size"]),
         (np.asarray(part["p_retailprice"]) - 900.0) / 20.0),
        (np.asarray(orders["o_orderkey"]), 1 + np.asarray(orders["o_totalprice"]).astype(np.int64) % 60,
         (np.asarray(orders["o_totalprice"]) % 500.0) / 100.0),
        (np.asarray(li_keys), np.asarray([li["l_quantity"][first[k]] for k in li_keys]),
         np.asarray([li["l_discount"][first[k]] * 50.0 for k in li_keys])),
    ]
    out = {}
    for p, name in enumerate(PROVIDERS):
        keys, nsites, bg = slices[p % 3]
        keep = ((keys * 7 + p) % 5 < 2) & (keys < 6000)
        out[f"optimade_{name}"] = _structure_rows(keys[keep], nsites[keep], bg[keep])
    return out


def single_source_tables(base):
    part = base["part"].to_pydict()
    pk = part["p_partkey"]
    bohrium = pa.table({
        "id": pa.array(pk, pa.int64()),
        "formula": [hill(*composition(k)) for k in pk],
        "atom_count": pa.array(part["p_size"], pa.int32()),
        # unique, so the tool's formation-energy order is total
        "predicted_formation_energy": [(k % 200 - 100.0) + k * 1e-6 for k in pk],
        "band_gap": [(r - 900.0) / 20.0 for r in part["p_retailprice"]]})
    orders = base["orders"].to_pydict()
    ok = orders["o_orderkey"]
    openlam = pa.table({
        "id": pa.array(ok, pa.int64()),
        "formula": [hill(*composition(k)) for k in ok],
        "energy": [-(p / 1000.0) for p in orders["o_totalprice"]],
        "submission_time": pa.array(orders["o_orderdate"], pa.timestamp("us"))})
    cust = base["customer"].to_pydict()
    ck = cust["c_custkey"]
    bal = np.asarray(cust["c_acctbal"])
    mofs = pa.table({
        "id": pa.array(ck, pa.int64()),
        "name": [f"mof-{k}" for k in ck],
        "mofid": [f"MOFID-{k:06d}" for k in ck],
        "mofkey": [f"KEY{k * 7919 % 100003:06d}" for k in ck],
        "database": [DATABASES[k % 7] for k in ck],
        "void_fraction": list(np.round((bal + 1000.0) / 11000.0, 4)),
        "lcd": list(np.round(2.0 + (np.asarray(ck) % 97) / 5.0, 2)),
        "pld": list(np.round(1.0 + (np.asarray(ck) % 89) / 6.0, 2)),
        "surface_area_m2g": list(np.round(100.0 + (np.asarray(ck) * 37 % 4000), 1)),
        "surface_area_m2cm3": list(np.round(50.0 + (np.asarray(ck) * 53 % 2500), 1))})
    return {"bohrium": bohrium, "openlam": openlam, "mofs": mofs}


def write_all(out_dir, seed, tool_views):
    """Base tables, plus the tool views when `tool_views`, from `seed`."""
    os.makedirs(out_dir, exist_ok=True)
    base = tables(seed)
    views = {**provider_tables(base), **single_source_tables(base)} if tool_views else {}
    for name, table in {**base, **views}.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
