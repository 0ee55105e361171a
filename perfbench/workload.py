"""Seeded operation scripts for the three workloads.

A tool script is a list of agent sessions. Each session calls one entry point
5 to 8 times: a broad first call, then refinements that add a clause, narrow a
range, change the provider subset, or drop the last clause. Sessions cycle through the seven entry points. Every call carries,
next to the program's arguments, the DuckDB predicate that check.py uses to
derive the expected answer on its own.

An analytic script is a seeded order of SparkEntry queries per pass, each
with the sink that runs first.
"""
import random

from gen import DATABASES, ELEMENTS, PRIORITIES, PROVIDERS, SEGMENTS, composition, hill

TOOLS = ["filter", "bohrium", "spg", "openlam", "bandgap", "mofs", "mofs_sql"]
FEDERATED = {"filter", "spg", "bandgap"}
SESSIONS = 42  # six per entry point, more than any window uses
N_RESULTS = 10  # the tools' default n_results

# The queries whose full-row cost count() hides most, then the relational
# control. README.md says which listed queries are left out and why.
QUERIES = ["q01_agg_pricing", "q55_approx_distinct", "q56_percentile",
           "q65_approx_percentile", "q99_profile", "q147_dup_spans",
           "q169_max_drawdown", "q208_doc_repetition", "q209_boilerplate_coverage",
           "q226_curation_v2", "q295_knn_shapley",
           "q25_optimade_part"]
PASSES = 4


def _num(x):
    return repr(round(x, 4))


# --- OPTIMADE filter clauses: (OPTIMADE text, DuckDB predicate) -------------

def _has(e):
    return f'elements HAS "{e}"', f"list_contains(elements, '{e}')"


def _has_all(a, b):
    return (f'elements HAS ALL "{a}","{b}"',
            f"(list_contains(elements, '{a}') AND list_contains(elements, '{b}'))")


def _has_any(a, b):
    return (f'elements HAS ANY "{a}","{b}"',
            f"(list_contains(elements, '{a}') OR list_contains(elements, '{b}'))")


def _not_has(e):
    return f'NOT elements HAS "{e}"', f"NOT list_contains(elements, '{e}')"


def _contains(e):
    return (f'chemical_formula_descriptive CONTAINS "{e}"',
            f"contains(chemical_formula_descriptive, '{e}')")


def _range(prop, lo, hi):
    return f"{prop} >= {lo} AND {prop} <= {hi}", f"({prop} >= {lo} AND {prop} <= {hi})"


def _formula(k):
    els, counts = composition(k)
    # sent in reverse element order, so the tool must Hill-normalize it
    literal = "".join(e + (str(c) if c > 1 else "") for e, c in reversed(list(zip(els, counts))))
    return f'chemical_formula_reduced = "{literal}"', f"chemical_formula_reduced = '{hill(els, counts)}'"


def _conj(clauses):
    return (" AND ".join(f"({o})" for o, _ in clauses),
            " AND ".join(s for _, s in clauses) if clauses else "TRUE")


def _fresh_clause(rng):
    a, b = rng.sample(ELEMENTS, 2)
    return rng.choice([_has(a), _has_all(a, b), _has_any(a, b), _not_has(a), _contains(a),
                       _range("nelements", 1, rng.randint(1, 3))])


FANOUT = 8


def _providers(rng):
    """FANOUT of the registered providers, in registry order. A call's cost
    grows with its fan-out, so every call has the same width and only the
    chosen providers change."""
    picked = set(rng.sample(PROVIDERS, FANOUT))
    return [p for p in PROVIDERS if p in picked]


def _federated_session(rng, tool, length):
    clauses = [_has(rng.choice(ELEMENTS))] if tool == "filter" else []
    state = {"providers": _providers(rng), "nsites": None,
             "spg": rng.randint(1, 230), "bg": [0.0, 5.0]}
    ops = []
    for step in range(length):
        if step > 0:
            action = rng.choice(["add", "narrow", "providers", "broaden", "fresh"])
            if action == "add" or (action == "broaden" and len(clauses) < 2):
                clauses.append(_fresh_clause(rng))
            elif action == "broaden":
                clauses.pop()
            elif action == "narrow":
                lo, hi = state["nsites"] or (1, 60)
                width = max(4, (hi - lo) // 2)
                lo = rng.randint(lo, max(lo, hi - width))
                state["nsites"] = (lo, lo + width)
                if tool == "bandgap":
                    blo, bhi = state["bg"]
                    mid = round(rng.uniform(blo, bhi), 2)
                    state["bg"] = [blo, mid] if rng.random() < 0.5 else [mid, bhi]
            elif action == "providers":
                state["providers"] = _providers(rng)
            elif tool == "spg":
                state["spg"] = rng.randint(1, 230)
            elif tool == "filter" and rng.random() < 0.5:
                clauses = [_formula(rng.randrange(6000))]
            else:
                clauses = [_fresh_clause(rng)]
        all_clauses = clauses + ([_range("nsites", *state["nsites"])] if state["nsites"] else [])
        optimade, where = _conj(all_clauses)
        op = {"tool": tool, "providers": state["providers"], "n": N_RESULTS}
        if tool == "filter":
            op["filter"] = optimade
        elif tool == "spg":
            op["spg"] = state["spg"]
            where = f"space_group_number = {state['spg']} AND {where}"
        else:
            op["band_gap"] = list(state["bg"])
            where = (f"band_gap >= {state['bg'][0]} AND band_gap <= {state['bg'][1]} "
                     f"AND band_gap IS NOT NULL AND {where}")
        if tool != "filter" and all_clauses:
            op["base"] = optimade
        op["where"] = where
        ops.append(op)
    return ops


def _narrow(rng, lo, hi, digits=2):
    width = (hi - lo) / 2
    a = round(rng.uniform(lo, hi - width), digits)
    return [a, round(a + width, digits)]


def _bohrium_session(rng, length):
    st = {"formula": rng.choice(ELEMENTS), "mode": 0, "atom": [0, 50], "fe": [-100.0, 100.0],
          "bg": None}
    ops = []
    for step in range(length):
        if step > 0:
            action = rng.choice(["atom", "fe", "bg", "exact", "fuzzy"])
            if action == "atom":
                st["atom"] = [int(x) for x in _narrow(rng, *st["atom"], digits=0)]
            elif action == "fe":
                st["fe"] = _narrow(rng, *st["fe"])
            elif action == "bg":
                st["bg"] = _narrow(rng, *(st["bg"] or [0.0, 5.0]))
            elif action == "exact":
                st["formula"], st["mode"] = hill(*composition(rng.randrange(2000))), 1
            else:
                st["formula"], st["mode"] = rng.choice(ELEMENTS), 0
        f = st["formula"]
        where = [f"contains(formula, '{f}')" if st["mode"] == 0 else f"formula = '{f}'",
                 f"atom_count >= {st['atom'][0]} AND atom_count <= {st['atom'][1]}",
                 f"predicted_formation_energy >= {st['fe'][0]} AND predicted_formation_energy <= {st['fe'][1]}"]
        op = {"tool": "bohrium", "formula": f, "match_mode": st["mode"], "n": N_RESULTS,
              "atom_count": [str(x) for x in st["atom"]],
              "formation_energy": [_num(x) for x in st["fe"]]}
        if st["bg"]:
            op["band_gap"] = [_num(x) for x in st["bg"]]
            where.append(f"band_gap >= {st['bg'][0]} AND band_gap <= {st['bg'][1]}")
        op["where"] = " AND ".join(where)
        ops.append(op)
    return ops


def _openlam_session(rng, length):
    st = {"formula": None, "energy": [-500.0, 0.0], "time": None}
    ops = []
    for step in range(length):
        if step > 0:
            action = rng.choice(["formula", "energy", "time"])
            if action == "formula":
                st["formula"] = None if st["formula"] else hill(*composition(rng.randrange(15000)))
            elif action == "energy":
                st["energy"] = _narrow(rng, *st["energy"])
            else:
                y0, y1 = (1995, 2001) if not st["time"] else st["time"]
                y = rng.randint(y0, max(y0, y1 - 1))
                st["time"] = (y, min(y1, y + max(1, (y1 - y0) // 2)))
        lo, hi = st["energy"]
        op = {"tool": "openlam", "energy": [lo, hi], "n": N_RESULTS}
        where = [f"energy >= {lo} AND energy <= {hi}"]
        if st["formula"]:
            op["formula"] = st["formula"]
            where.append(f"formula = '{st['formula']}'")
        if st["time"]:
            t0, t1 = f"{st['time'][0]}-01-01 00:00:00", f"{st['time'][1]}-07-01 00:00:00"
            op["min_time"], op["max_time"] = t0, t1
            where.append(f"submission_time >= TIMESTAMP '{t0}' AND submission_time <= TIMESTAMP '{t1}'")
        op["where"] = " AND ".join(where)
        ops.append(op)
    return ops


MOF_RANGES = {"void_fraction": (0.0, 1.0), "lcd": (2.0, 21.5), "pld": (1.0, 15.7),
              "surface_area_m2g": (100.0, 4100.0)}


def _mofs_session(rng, length):
    st = {"database": None, **{k: None for k in MOF_RANGES}}
    ops = []
    for step in range(length):
        if step > 0:
            action = rng.choice(["database"] + list(MOF_RANGES))
            if action == "database":
                st["database"] = None if st["database"] else rng.choice(DATABASES)
            else:
                st[action] = _narrow(rng, *(st[action] or MOF_RANGES[action]))
        op = {"tool": "mofs", "n": N_RESULTS}
        where = ["TRUE"]
        if st["database"]:
            op["database"] = st["database"]
            where.append(f"database = '{st['database']}'")
        for k in MOF_RANGES:
            if st[k]:
                op[k] = st[k]
                where.append(f"{k} >= {st[k][0]} AND {k} <= {st[k][1]}")
        op["where"] = " AND ".join(where)
        ops.append(op)
    return ops


def _sql_session(rng, length):
    st = {"price": 1000, "join": False, "segment": None, "priority": None, "year": None,
          "group": False}
    ops = []
    for step in range(length):
        if step > 0:
            action = rng.choice(["price", "join", "priority", "year", "group"])
            if action == "price":
                st["price"] = rng.randint(st["price"], st["price"] + 200000)
            elif action == "join":
                st["join"] = True
                st["segment"] = rng.choice(SEGMENTS)
            elif action == "priority":
                st["priority"] = None if st["priority"] else rng.choice(PRIORITIES)
            elif action == "year":
                st["year"] = rng.randint(1995, 2000)
            else:
                st["group"] = not st["group"]
        where = [f"o.o_totalprice > {st['price']}"]
        if st["priority"]:
            where.append(f"o.o_orderpriority = '{st['priority']}'")
        if st["year"]:
            where.append(f"o.o_orderdate >= TIMESTAMP '{st['year']}-01-01 00:00:00' "
                         f"AND o.o_orderdate < TIMESTAMP '{st['year'] + 1}-01-01 00:00:00'")
        frm = "orders o"
        if st["join"]:
            frm += " JOIN customer c ON o.o_custkey = c.c_custkey"
            where.append(f"c.c_mktsegment = '{st['segment']}'")
        cond = " AND ".join(where)
        if st["group"]:
            sql = (f"SELECT o.o_custkey AS id, COUNT(*) AS n_orders, "
                   f"CAST(SUM(o.o_totalprice) AS DECIMAL(18,2)) AS total FROM {frm} "
                   f"WHERE {cond} GROUP BY o.o_custkey ORDER BY o.o_custkey")
        else:
            sql = (f"SELECT o.o_orderkey AS id, o.o_totalprice, o.o_orderpriority FROM {frm} "
                   f"WHERE {cond} ORDER BY o.o_orderkey")
        ops.append({"tool": "mofs_sql", "sql": sql, "n": N_RESULTS})
    return ops


def session(rng, tool):
    length = rng.randint(5, 8)
    if tool in FEDERATED:
        return _federated_session(rng, tool, length)
    return {"bohrium": _bohrium_session, "openlam": _openlam_session, "mofs": _mofs_session,
            "mofs_sql": _sql_session}[tool](rng, length)


def warmup():
    """The set-up's warm-up: one call per entry point, so that no entry
    point's first call in the JVM is timed. These are the second calls of
    seed-0 sessions, writing files where the window's first round does."""
    rng = random.Random(0)
    ops = [dict(session(rng, tool)[1], export=lane % 2 == 1) for lane, tool in enumerate(TOOLS)]
    for op in ops:
        if op["tool"] in FEDERATED:
            op["providers"] = PROVIDERS[:FANOUT]
    return ops


def tool_script(seed, export_all, nonempty):
    """Sessions cycling through the seven entry points. The harness runs them
    in rounds of one call per entry point (perfbench.Lanes); every second
    call of each entry point writes its result's files (CIF for the OPTIMADE
    filter tool, JSON otherwise), so that each round mixes envelope-only and
    export calls in a fixed proportion. With export_all, every call writes.

    A session with a call that would match nothing is drawn again: an empty
    OPTIMADE result skips most of the federation's jobs, so the share of
    empty calls would otherwise swing a run's timings with the seed."""
    rng = random.Random(seed)
    sessions = []
    for i in range(SESSIONS):
        ops = session(rng, TOOLS[i % len(TOOLS)])
        while not all(map(nonempty, ops)):
            ops = session(rng, TOOLS[i % len(TOOLS)])
        sessions.append(ops)
    for lane in range(len(TOOLS)):
        calls = [op for ops in sessions[lane::len(TOOLS)] for op in ops]
        for position, op in enumerate(calls):
            op["export"] = export_all or (lane + position) % 2 == 1
    return {"mode": "tools", "providers": PROVIDERS, "warmup": warmup(),
            "sessions": sessions}


def analytic_script(seed):
    rng = random.Random(seed)
    first = {q: rng.randrange(2) for q in QUERIES}
    passes = []
    for p in range(PASSES):
        order = rng.sample(QUERIES, len(QUERIES))
        passes.append([{"query": q, "first": "fullrow" if (first[q] + p) % 2 == 0 else "count"}
                       for q in order])
    return {"mode": "analytic", "providers": PROVIDERS, "warmup": [], "queries": QUERIES,
            "passes": passes}
