"""Seeded input generation for the benchmark workloads.

Every input a run uses is derived from its seed here; the engine sees
only the generated requests. Pivot requests are built from the `Sales`
cube model, and each one also gets a DuckDB star-join SQL built from the
same spec, which the runner uses as the output oracle.
"""
import random

MAX_ROWS = 1000  # QueryService.executeForGrid's default page size

MEASURES = ["sum_qty", "sum_base_price", "sum_disc_price", "count_order"]
MEASURE_SQL = {
    "sum_qty": "SUM(CAST(l.l_quantity AS DECIMAL(18,2)))",
    "sum_base_price": "SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))",
    "sum_disc_price": "SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * "
                      "(CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))))",
    "count_order": "COUNT(*)",
}

# Column expressions over the star join below.
COL = {
    "r_regionkey": "r.r_regionkey", "r_name": "r.r_name",
    "n_nationkey": "n.n_nationkey", "n_name": "n.n_name",
    "p_brand": "p.p_brand", "p_partkey": "p.p_partkey", "p_name": "p.p_name",
    "order_year": "year(o.o_orderdate)", "order_month": "month(o.o_orderdate)",
    "sn_nationkey": "sn.n_nationkey", "sn_name": "sn.n_name",
}
JOINS = {
    "orders": "JOIN orders o ON l.l_orderkey = o.o_orderkey",
    "custgeo": "JOIN customer c ON o.o_custkey = c.c_custkey "
               "JOIN nation n ON c.c_nationkey = n.n_nationkey "
               "JOIN region r ON n.n_regionkey = r.r_regionkey",
    "part": "JOIN part p ON l.l_partkey = p.p_partkey",
    "suppgeo": "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
               "JOIN nation sn ON s.s_nationkey = sn.n_nationkey",
}
UNIT_ORDER = ["orders", "custgeo", "part", "suppgeo"]

# hierarchy -> (dimension, hierarchy, star units, member source SQL,
#               {level: (key columns, caption column, output name, members)})
HIER = {
    "C": ("[Customer]", "[Customer].[Geo]", ["orders", "custgeo"],
          "SELECT r.r_regionkey, r.r_name, n.n_nationkey, n.n_name "
          "FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey",
          {"Region": (["r_regionkey"], "r_name", "region", 5),
           "Nation": (["r_regionkey", "n_nationkey"], "n_name", "nation", 25)}),
    "P": ("[Part]", "[Part].[ByBrand]", ["part"],
          "SELECT p_brand, p_partkey, p_name FROM part",
          {"Brand": (["p_brand"], "p_brand", "brand", 25),
           "Part": (["p_brand", "p_partkey"], "p_name", "part_name", 20000)}),
    "T": ("[Time]", "[Time].[OrderDate]", ["orders"],
          "SELECT DISTINCT year(o_orderdate) AS order_year, "
          "month(o_orderdate) AS order_month FROM orders",
          {"Year": (["order_year"], "order_year", "order_year", 7),
           "Month": (["order_year", "order_month"], "order_month", "order_month", 80)}),
    "S": ("[Supplier]", "[Supplier].[Geo]", ["suppgeo"],
          "SELECT DISTINCT n.n_nationkey AS sn_nationkey, n.n_name AS sn_name "
          "FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey",
          {"Nation": (["sn_nationkey"], "sn_name", "supp_nation", 25)}),
}
YEARS = list(range(1995, 2002))
FULL_YEARS = YEARS[:-1]  # the fixture's last year is partial
REGIONS = list(range(5))
# Slicer member -> (star units, SQL predicate); the engine compares the
# member key as text.
SLICERS = {
    **{f"[Time].[OrderDate].[Year].&[{y}]":
       (["orders"], f"CAST(year(o.o_orderdate) AS VARCHAR) = '{y}'") for y in YEARS},
    **{f"[Customer].[Geo].[Region].&[{k}]":
       (["orders", "custgeo"], f"CAST(r.r_regionkey AS VARCHAR) = '{k}'") for k in REGIONS},
}


def pivot_sql(rows, measures, slicer, non_empty):
    """DuckDB SQL computing the grid QueryService serves for this spec."""
    units = {u for h, _ in rows for u in HIER[h][2]}
    pred = "TRUE"
    if slicer:
        units |= set(SLICERS[slicer][0])
        pred = SLICERS[slicer][1]
    star = "FROM lineitem l " + " ".join(JOINS[u] for u in UNIT_ORDER if u in units)
    levels = [HIER[h][4][lvl] for h, lvl in rows]
    keys = list(dict.fromkeys(k for lv in levels for k in lv[0]))
    aggs = ", ".join(f"{MEASURE_SQL[m]} AS {m}" for m in measures)
    if non_empty:
        caps = list(dict.fromkeys(lv[1] for lv in levels))
        group = list(dict.fromkeys(keys + caps))
        outs = ", ".join(f"{COL[lv[1]]} AS {lv[2]}" for lv in levels)
        return (f"SELECT {outs}, {aggs} {star} WHERE {pred} "
                f"GROUP BY {', '.join(COL[c] for c in group)} "
                f"ORDER BY {', '.join(COL[k] for k in keys)} LIMIT {MAX_ROWS}")
    sides = []
    for i, ((h, _), lv) in enumerate(zip(rows, levels)):
        cols = ", ".join(dict.fromkeys(lv[0] + [lv[1]]))
        sides.append(f"(SELECT DISTINCT {cols} FROM ({HIER[h][3]})) m{i}")
    agg = (f"SELECT {', '.join(f'{COL[k]} AS {k}' for k in keys)}, {aggs} {star} "
           f"WHERE {pred} GROUP BY {', '.join(COL[k] for k in keys)}")
    outs = ", ".join(f"{lv[1]} AS {lv[2]}" for lv in levels)
    ms = ", ".join(f"a.{m} AS {m}" for m in measures)
    return (f"SELECT {outs}, {ms} FROM {' CROSS JOIN '.join(sides)} "
            f"LEFT JOIN ({agg}) a USING ({', '.join(keys)}) "
            f"ORDER BY {', '.join(keys)} LIMIT {MAX_ROWS}")


# Row shapes per request kind. A request's shape sets its cost, so each
# 20-request cycle of the stream takes every shape once: every run and
# seed sees the same costs, and the seed picks their order, measures and
# slicers.
NAV_SHAPES = [  # each fits a pre-aggregate: base, or suppgeo with [S]
    [("C", "Region")], [("C", "Nation")], [("P", "Brand")], [("T", "Year")],
    [("T", "Month")], [("S", "Nation")],
    [("C", "Nation"), ("P", "Brand")], [("C", "Region"), ("T", "Year")],
    [("P", "Brand"), ("T", "Month")], [("T", "Year"), ("C", "Nation")],
    [("P", "Brand"), ("C", "Region")], [("S", "Nation"), ("T", "Year")],
    [("S", "Nation"), ("T", "Month")], [("C", "Region"), ("T", "Month")],
]
# The part leaf is in no pre-aggregate's grain: a raw-fact scan.
FALLBACK_SHAPES = [[("P", "Part")]] * 3
# NON EMPTY off: the full member cross product of one level.
NEOFF_SHAPES = [[("C", "Nation")], [("P", "Brand")]]
SHAPES = {"nav": NAV_SHAPES, "fallback": FALLBACK_SHAPES, "neoff": NEOFF_SHAPES}


def _slicer_for(rng, rows, category):
    hs = {h for h, _ in rows}
    r = rng.random()
    if category == "fallback":
        return f"[Time].[OrderDate].[Year].&[{rng.choice(FULL_YEARS)}]"
    if r < 0.4:
        return f"[Time].[OrderDate].[Year].&[{rng.choice(YEARS)}]"
    if r < 0.6 and "S" not in hs:
        return f"[Customer].[Geo].[Region].&[{rng.choice(REGIONS)}]"
    return ""


def _pivot(rng, rid, category, rows):
    # Fallback requests keep one measure set and a full year, so the tail
    # they set does not depend on the seed.
    measures = (["sum_qty", "count_order"] if category == "fallback" else
                sorted(rng.sample(MEASURES, rng.choice([1, 2, 3])), key=MEASURES.index))
    slicer = _slicer_for(rng, rows, category)
    non_empty = category != "neoff"
    return {"kind": "P", "id": rid, "cat": category, "rows": rows, "measures": measures,
            "slicer": slicer, "non_empty": non_empty,
            "sql": pivot_sql(rows, measures, slicer, non_empty)}


def _browse(rng, rid):
    a = rng.randint(1, 24)
    ranges = str(a) if rng.random() < 0.5 else f"{a}-{a + 1}"
    return {"kind": "B", "id": rid, "cat": "browse", "ranges": ranges}


def _grid_bound(p):
    n = 1
    for h, lvl in p["rows"]:
        n *= HIER[h][4][lvl][3]
    return n


# One cycle of the pivot_service stream: 14 navigated, 3 fallback,
# 2 NON EMPTY off and 1 browse request in every 20 (70/15/10/5 %), in
# fixed slots.
CYCLE = ["nav", "nav", "fallback", "nav", "nav", "neoff", "nav", "nav", "nav", "browse",
         "nav", "nav", "fallback", "nav", "nav", "neoff", "nav", "nav", "fallback", "nav"]


def _pool(rng, prefix):
    """One request per shape (and one browse), in seeded order: a cycle of
    the stream serves each once."""
    pool = {}
    for cat, shapes in SHAPES.items():
        pool[cat] = [_pivot(rng, f"{prefix}{cat}{i}", cat, rows) for i, rows in enumerate(shapes)]
        rng.shuffle(pool[cat])
    pool["browse"] = [_browse(rng, f"{prefix}browse0")]
    return pool


def _set_up(seed):
    """One request per pre-aggregate, from a different seed, so that
    serving them builds both."""
    rng = random.Random(seed * 7919 + 104729)
    pool = _pool(rng, "w")
    # Only the base aggregate covers the customer and part hierarchies;
    # a time-only request navigates to the narrower supplier aggregate.
    base = next(p for p in pool["nav"] if any(h in ("C", "P") for h, _ in p["rows"]))
    supp = next(p for p in pool["nav"] if any(h == "S" for h, _ in p["rows"]))
    return [base, supp]


def pivot_service(seed, length=2000):
    """The request pool, the warm-up stream and the measured stream.

    The warm-up is the set-up requests followed by one cycle of the
    stream, so every measured request is a repeat. A request served for
    the first time costs about twice a repeat (on 4 cores at sf0.1, ~180
    against ~90 ms for a navigated pivot, mostly code generation); with
    first-time and repeat requests mixed in the window, how many requests
    fit in it would set the mix and with it the latency."""
    rng = random.Random(seed)
    pool = _pool(rng, "r")
    # Each kind's slots take its pool members in turn, so every cycle
    # serves each shape once.
    seen = {c: 0 for c in pool}
    stream = []
    for i in range(length):
        c = CYCLE[i % len(CYCLE)]
        stream.append(pool[c][seen[c] % len(pool[c])])
        seen[c] += 1
    return [p for ps in pool.values() for p in ps], _set_up(seed) + stream[:len(CYCLE)], stream


# The job leg of traced pivot_service runs. About 1 in 8 jobs folds one
# slice of the fact into the maintained Sales.base aggregate; the rest
# are navigated pivots small enough to fit one grid page, so a job's
# result can be compared with its grid.
MAINT_EVERY = 8
JOB_COUNT = 12


def job_schedule(seed, pool, rate):
    """(due ms, kind, request id or slice) for each job, `rate` per second."""
    rng = random.Random(seed * 31 + 17)
    small = [p for p in pool if p["cat"] == "nav" and _grid_bound(p) <= MAX_ROWS]
    slices = list(range(16))
    rng.shuffle(slices)
    jobs = []
    for i in range(JOB_COUNT):
        due_ms = int(i * 1000 / rate)
        if i % MAINT_EVERY == 3:
            jobs.append((due_ms, "maint", str(slices.pop())))
        else:
            jobs.append((due_ms, "pivot", rng.choice(small)["id"]))
    return jobs


# A stratified slice of the query registry: one query from each of the
# eight family registries, chosen among the cheaper ones so a run stays
# short; five of them build a session artifact. The set is fixed so that
# runs with different seeds measure the same work; the seed sets the
# order of the warm passes.
REGISTRY_SAMPLE = [
    "q09_pagination",            # Relational
    "q37_mdx_supplier_nation",   # MdxQueries: builds the suppgeo pre-aggregate
    "q23_dedup_minhash_lsh",     # ExtQueries: builds the MinHash signatures
    "q270_session_overlap",      # EventQueries: builds the sessions table
    "q52_apartados",             # MetaQueries: builds the member catalog
    "q190_packing_efficiency",   # PipelineQueries
    "q93_pagerank",              # AnalyticsQueries
    "q122_fts_stemmed_es",       # StemmedFtsQueries: builds the stemmed postings
]


def registry_mix(seed, passes=64):
    rng = random.Random(seed)
    orders = [list(REGISTRY_SAMPLE)]
    for _ in range(passes):
        o = list(REGISTRY_SAMPLE)
        rng.shuffle(o)
        orders.append(o)
    return orders


def _pivot_line(p):
    rows = ";".join(f"{HIER[h][0]}|{HIER[h][1]}|{lvl}" for h, lvl in p["rows"])
    return "\t".join(["P", p["id"], p["cat"], ",".join(p["measures"]), rows,
                      p["slicer"], "1" if p["non_empty"] else "0"])


def _op_line(op):
    if op["kind"] == "B":
        return "\t".join(["B", op["id"], op["cat"], op["ranges"]])
    return _pivot_line(op)


def write_spec(path, workload, seed, job_rate):
    """Write the harness input for one run; return the pivot oracle SQL
    by request id."""
    lines, sql = [], {}
    if workload == "pivot_service":
        pool, warm, stream = pivot_service(seed)
        ops = pool + warm[:2]
        lines += [f"S\t{op['id']}" for op in stream]
        lines += [f"J\t{d}\t{kind}\t{ref}" for d, kind, ref in job_schedule(seed, pool, job_rate)]
    else:
        ops, warm = [], []
        lines += [f"Q\t{q}" for q in REGISTRY_SAMPLE]
        lines += [f"O\t{i}\t{','.join(o)}" for i, o in enumerate(registry_mix(seed))]
    lines += [_op_line(op) for op in ops]
    lines += [f"W\t{op['id']}" for op in warm]
    for op in ops:
        if op["kind"] == "P":
            sql[op["id"]] = op["sql"]
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    return sql
