"""Seeded input generators for the graft benchmark.

Everything the engine reads is written here, before its JVM starts. The
same seed gives byte-identical files (``sha1_list`` shows it); the engine
sees only these files.

* ``csr_drop_zone`` writes the ``csr_etl`` drop zone: three delimited
  sources (``;``, ``,`` and tab separated) with ``.sha1`` companions, plus
  the two deliveries of ``registry.csv`` the delta op alternates between,
  and the observation row counts the pipeline must produce for each.
* ``query_tables`` writes the ``query_mix`` tables: the sf0.1 table shapes
  of the repo's test data (TPC-H-ish star schema, events, documents,
  embeddings), scaled by ``sf``, under a benchmark-owned basename.
"""
import datetime
import hashlib
import math
import os
import random

# ----------------------------------------------------------------- csr_etl

N_INDIVIDUALS = 6000
SEXES = ["1", "2", "9"]  # 9 is not in the codebook and passes through
SEGMENTS = ["BUILDING", "MACHINERY", "FURNITURE", "HOUSEHOLD", "AUTOMOBILE"]
DIAGNOSES = [f"D{i:02d}" for i in range(20)]
FIRST = ["Alice", "Bob", "Carol", "Dan", "Eve", "Frank", "Grace", "Heidi",
         "Ivan", "Judy", "Mallory", "Niaj", "Olivia", "Peggy", "Rupert",
         "Sybil", "Trent", "Victor", "Walter", "Yara"]
ATTRS = ["name", "sex", "birth_date", "segment", "bmi", "diagnosis", "visit_date"]


def _sha1(data):
    return hashlib.sha1(data).hexdigest()


def _deliver(d, name, text):
    """Write a drop-zone file and its ``sha1sum``-style companion."""
    data = text.encode("utf-8")
    with open(os.path.join(d, name), "wb") as f:
        f.write(data)
    with open(os.path.join(d, name + ".sha1"), "wb") as f:
        f.write(f"{_sha1(data)}  {name}\n".encode("utf-8"))


def _maybe(rng, p_null, value):
    return "" if rng.random() < p_null else value


def _individuals(rng):
    rows = {}
    for i in range(1, N_INDIVIDUALS + 1):
        born = datetime.date(1930, 1, 1) + datetime.timedelta(days=rng.randrange(27000))
        rows[i] = {"name": _maybe(rng, 0.05, f"{rng.choice(FIRST)} {i}"),
                   "sex": _maybe(rng, 0.03, rng.choice(SEXES)),
                   "birth_date": _maybe(rng, 0.04, born.strftime("%d-%m-%Y"))}
    return rows


def _registry(rng):
    """4 000 rows keyed over 1..7 000: some individuals exist only here."""
    ids = sorted(rng.sample(range(1, N_INDIVIDUALS + 1001), 4000))
    return {i: {"name": _maybe(rng, 0.5, f"{rng.choice(FIRST)} R{i}"),
                "segment": _maybe(rng, 0.05, rng.choice(SEGMENTS))} for i in ids}


def _measurements(rng):
    ids = sorted(rng.sample(range(1, N_INDIVIDUALS + 1), 5000))
    out = {}
    for i in ids:
        visit = datetime.date(2015, 1, 1) + datetime.timedelta(days=rng.randrange(3000))
        out[i] = {"bmi": _maybe(rng, 0.05, f"{rng.uniform(16, 40):.1f}"),
                  "diagnosis": _maybe(rng, 0.1, rng.choice(DIAGNOSES)),
                  "visit_date": _maybe(rng, 0.05, visit.isoformat())}
    return out


def _render(sep, header, rows):
    lines = [sep.join(header)]
    for k in sorted(rows):
        lines.append(sep.join([str(k)] + [rows[k][c] for c in header[1:]]))
    return "\n".join(lines) + "\n"


def merged_cells(sources):
    """Observation rows the pipeline must emit: one per non-empty
    (individual, attribute) cell after the priority merge."""
    keys = set().union(*(s.keys() for s in sources))
    n = 0
    for k in keys:
        for a in ATTRS:
            if any(s.get(k, {}).get(a, "") != "" for s in sources):
                n += 1
    return n


def csr_drop_zone(root, seed):
    """Write ``drop/`` (state A) and ``deliveries/registry.{A,B}.csv`` under
    ``root``; return the expected observation counts per state."""
    rng = random.Random(f"csr_etl:{seed}")
    ind, reg_a, meas, reg_b = _individuals(rng), _registry(rng), _measurements(rng), _registry(rng)
    drop = os.path.join(root, "drop")
    deliveries = os.path.join(root, "deliveries")
    os.makedirs(drop)
    os.makedirs(deliveries)
    _deliver(drop, "individuals.csv",
             _render(";", ["individual_id", "name", "sex", "birth_date"], ind))
    _deliver(drop, "measurements.tsv",
             _render("\t", ["individual_id", "bmi", "diagnosis", "visit_date"], meas))
    for state, reg in (("A", reg_a), ("B", reg_b)):
        _deliver(deliveries, f"registry.{state}.csv",
                 _render(",", ["individual_id", "name", "segment"], reg))
    return {"A": merged_cells([ind, reg_a, meas]), "B": merged_cells([ind, reg_b, meas])}


# --------------------------------------------------------------- query_mix

WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter",
         "small", "slow", "merge", "order", "vector", "line", "table", "data",
         "agg", "value", "key", "stream", "window", "a", "spark", "part",
         "group", "big", "sort", "query", "fast", "the"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "shiny", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "pin"]
MKT = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 3 + ["de", "es", "fr", "zh"]


def _day(rng, start, span):
    return datetime.datetime(*start) + datetime.timedelta(days=rng.randrange(span))


def _tables(rng, sf):
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_orders, n_line = int(1500000 * sf), int(6000000 * sf)
    n_events, n_docs, n_vecs = int(1000000 * sf), int(50000 * sf), int(20000 * sf)
    t = {}
    t["region"] = {"r_regionkey": ("int32", list(range(5))),
                   "r_name": ("string", ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}
    t["nation"] = {"n_nationkey": ("int32", list(range(25))),
                   "n_name": ("string", [f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": ("int32", [i % 5 for i in range(25)])}
    t["customer"] = {"c_custkey": ("int64", list(range(n_cust))),
                     "c_name": ("string", [f"Customer#{i:09d}" for i in range(n_cust)]),
                     "c_nationkey": ("int32", [rng.randrange(25) for _ in range(n_cust)]),
                     "c_acctbal": ("float64", [round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)]),
                     "c_mktsegment": ("string", [rng.choice(MKT) for _ in range(n_cust)])}
    t["supplier"] = {"s_suppkey": ("int64", list(range(n_supp))),
                     "s_name": ("string", [f"Supplier#{i:09d}" for i in range(n_supp)]),
                     "s_nationkey": ("int32", [rng.randrange(25) for _ in range(n_supp)]),
                     "s_acctbal": ("float64", [round(rng.uniform(-999, 9999), 2) for _ in range(n_supp)])}
    t["part"] = {"p_partkey": ("int64", list(range(n_part))),
                 "p_name": ("string", [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n_part)]),
                 "p_brand": ("string", [f"Brand#{rng.randrange(1, 26)}" for _ in range(n_part)]),
                 "p_type": ("string", [rng.choice(PTYPES) for _ in range(n_part)]),
                 "p_size": ("int32", [rng.randrange(1, 51) for _ in range(n_part)]),
                 "p_retailprice": ("float64", [round(900 + (i % 1000) / 10, 2) for i in range(n_part)])}
    t["orders"] = {"o_orderkey": ("int64", list(range(n_orders))),
                   "o_custkey": ("int64", [rng.randrange(n_cust) for _ in range(n_orders)]),
                   "o_orderstatus": ("string", [rng.choice("FOP") for _ in range(n_orders)]),
                   "o_totalprice": ("float64", [round(rng.uniform(1000, 500000), 2) for _ in range(n_orders)]),
                   "o_orderdate": ("timestamp", [_day(rng, (1995, 1, 1), 2400) for _ in range(n_orders)]),
                   "o_orderpriority": ("string", [rng.choice(PRIOS) for _ in range(n_orders)])}
    qty = [float(rng.randrange(1, 51)) for _ in range(n_line)]
    t["lineitem"] = {"l_orderkey": ("int64", [rng.randrange(n_orders) for _ in range(n_line)]),
                     "l_partkey": ("int64", [rng.randrange(n_part) for _ in range(n_line)]),
                     "l_suppkey": ("int64", [rng.randrange(n_supp) for _ in range(n_line)]),
                     "l_linenumber": ("int32", [rng.randrange(1, 8) for _ in range(n_line)]),
                     "l_quantity": ("float64", qty),
                     "l_extendedprice": ("float64", [round(q * rng.uniform(900, 2100), 2) for q in qty]),
                     "l_discount": ("float64", [rng.randrange(11) / 100 for _ in range(n_line)]),
                     "l_tax": ("float64", [rng.randrange(9) / 100 for _ in range(n_line)]),
                     "l_returnflag": ("string", [rng.choice("ANR") for _ in range(n_line)]),
                     "l_linestatus": ("string", [rng.choice("FO") for _ in range(n_line)]),
                     "l_shipdate": ("timestamp", [_day(rng, (1995, 1, 2), 2500) for _ in range(n_line)])}
    ts = sorted(datetime.datetime(2024, 1, 1) + datetime.timedelta(microseconds=rng.randrange(30 * 86400 * 10**6))
                for _ in range(n_events))
    t["events"] = {"event_id": ("int64", list(range(n_events))),
                   "ts": ("timestamp", ts),
                   "user_id": ("int64", [rng.randrange(max(1, int(15000 * sf))) for _ in range(n_events)]),
                   "event_type": ("string", [rng.choice(EVENT_TYPES) for _ in range(n_events)]),
                   "value": ("float64", [round(rng.uniform(0, 20), 2) for _ in range(n_events)]),
                   "props": ("string", ['{"k": %d}' % rng.randrange(100) for _ in range(n_events)])}
    texts = []
    for i in range(n_docs):
        if texts and rng.random() < 0.05:  # near-duplicates for the dedup side
            texts.append(rng.choice(texts) + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randrange(10, 100))))
    t["documents"] = {"doc_id": ("int64", list(range(n_docs))),
                      "text": ("string", texts),
                      "lang": ("string", [rng.choice(LANGS) for _ in range(n_docs)]),
                      "source": ("string", [f"src{i % 20}" for i in range(n_docs)]),
                      "n_chars": ("int64", [len(x) for x in texts])}
    vecs = []
    for _ in range(n_vecs):
        v = [rng.gauss(0, 1) for _ in range(64)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    t["embeddings"] = {"vec_id": ("int64", list(range(n_vecs))),
                       "embedding": ("list<float>", vecs),
                       "label": ("int32", [rng.randrange(10) for _ in range(n_vecs)])}
    return t


def _arrow_type(pa, name):
    return {"int32": pa.int32(), "int64": pa.int64(), "float64": pa.float64(),
            "string": pa.string(), "timestamp": pa.timestamp("us"),
            "list<float>": pa.list_(pa.float32())}[name]


def write_table(path, cols):
    import pyarrow as pa
    import pyarrow.parquet as pq
    arrays = {c: pa.array(v, type=_arrow_type(pa, ty)) for c, (ty, v) in cols.items()}
    # fixed writer settings so the bytes depend on the seed only
    pq.write_table(pa.table(arrays), path, compression="snappy",
                   use_dictionary=True, write_statistics=True)


def query_tables(data_dir, seed, sf):
    rng = random.Random(f"query_mix:{seed}")
    os.makedirs(data_dir)
    for name, cols in _tables(rng, sf).items():
        write_table(os.path.join(data_dir, f"{name}.parquet"), cols)


def sha1_list(root):
    """Sorted ``relative-path sha1`` lines of every file under ``root``."""
    out = []
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out.append(f"{os.path.relpath(p, root)} {_sha1(fh.read())}")
    return sorted(out)
