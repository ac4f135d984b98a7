"""Seeded, deterministic input generators for the benchmark.

* `ssb_tables` writes dbgen-shaped `|`-delimited `.tbl` files for the
  four SSB sources (lineorder, customer, part, supplier) and returns the
  DuckDB answers to the Q1.1-Q1.3 flight over the same files.
* `event_landing_zone` splits the fixture `events` table into
  time-ordered parquet files at seeded boundaries, the shape a streaming
  landing zone has.

The same seed always gives the same bytes. Nothing here touches Spark:
the engine only ever sees the files these functions write.
"""
import hashlib
import os

import numpy as np

NATIONS = [
    ("ALGERIA", "AFRICA"), ("ARGENTINA", "AMERICA"), ("BRAZIL", "AMERICA"),
    ("CANADA", "AMERICA"), ("EGYPT", "MIDDLE EAST"), ("ETHIOPIA", "AFRICA"),
    ("FRANCE", "EUROPE"), ("GERMANY", "EUROPE"), ("INDIA", "ASIA"),
    ("INDONESIA", "ASIA"), ("IRAN", "MIDDLE EAST"), ("IRAQ", "MIDDLE EAST"),
    ("JAPAN", "ASIA"), ("JORDAN", "MIDDLE EAST"), ("KENYA", "AFRICA"),
    ("MOROCCO", "AFRICA"), ("MOZAMBIQUE", "AFRICA"), ("PERU", "AMERICA"),
    ("CHINA", "ASIA"), ("ROMANIA", "EUROPE"), ("SAUDI ARABIA", "MIDDLE EAST"),
    ("VIETNAM", "ASIA"), ("RUSSIA", "EUROPE"), ("UNITED KINGDOM", "EUROPE"),
    ("UNITED STATES", "AMERICA"),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECI", "5-LOW"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
COLORS = ["almond", "antique", "aquamarine", "azure", "beige", "bisque",
          "black", "blanched", "blue", "blush", "brown", "burlywood",
          "chartreuse", "chiffon", "chocolate", "coral", "cornflower",
          "cornsilk", "cream", "cyan", "dark", "deep", "dim", "dodger"]
TYPES = ["STANDARD ANODIZED TIN", "SMALL PLATED COPPER", "MEDIUM BRUSHED STEEL",
         "LARGE POLISHED NICKEL", "ECONOMY BURNISHED BRASS", "PROMO ANODIZED STEEL"]
CONTAINERS = ["SM CASE", "SM BOX", "MED BAG", "MED PACK", "LG CASE", "LG DRUM",
              "JUMBO JAR", "WRAP PKG"]

# dbgen's SF=1 cardinalities; smaller scale factors shrink them linearly
LINEORDER_SF1 = 6_000_000
CUSTOMER_SF1 = 30_000
PART_SF1 = 200_000
SUPPLIER_SF1 = 2_000

DATE_LO = np.datetime64("1992-01-01")
DATE_DAYS = int((np.datetime64("1999-01-01") - DATE_LO).astype(np.int64))  # dbgen's 1992-1998

Q1 = {
    "q1_1": "year(LO_ORDERDATE) = 1993 AND LO_DISCOUNT BETWEEN 1 AND 3 "
            "AND LO_QUANTITY < 25",
    "q1_2": "year(LO_ORDERDATE) * 100 + month(LO_ORDERDATE) = 199401 "
            "AND LO_DISCOUNT BETWEEN 4 AND 6 AND LO_QUANTITY BETWEEN 26 AND 35",
    "q1_3": "weekofyear(LO_ORDERDATE) = 6 AND year(LO_ORDERDATE) = 1994 "
            "AND LO_DISCOUNT BETWEEN 5 AND 7 AND LO_QUANTITY BETWEEN 26 AND 35",
}

COLUMNS = {
    "customer": "C_CUSTKEY BIGINT, C_NAME VARCHAR, C_ADDRESS VARCHAR, "
                "C_CITY VARCHAR, C_NATION VARCHAR, C_REGION VARCHAR, "
                "C_PHONE VARCHAR, C_MKTSEGMENT VARCHAR",
    "lineorder": "LO_ORDERKEY BIGINT, LO_LINENUMBER INTEGER, LO_CUSTKEY BIGINT, "
                 "LO_PARTKEY BIGINT, LO_SUPPKEY BIGINT, LO_ORDERDATE DATE, "
                 "LO_ORDERPRIORITY VARCHAR, LO_SHIPPRIORITY INTEGER, "
                 "LO_QUANTITY INTEGER, LO_EXTENDEDPRICE BIGINT, "
                 "LO_ORDTOTALPRICE BIGINT, LO_DISCOUNT INTEGER, LO_REVENUE BIGINT, "
                 "LO_SUPPLYCOST BIGINT, LO_TAX INTEGER, LO_COMMITDATE DATE, "
                 "LO_SHIPMODE VARCHAR",
    "part": "P_PARTKEY BIGINT, P_NAME VARCHAR, P_MFGR VARCHAR, P_CATEGORY VARCHAR, "
            "P_BRAND VARCHAR, P_COLOR VARCHAR, P_TYPE VARCHAR, P_SIZE INTEGER, "
            "P_CONTAINER VARCHAR",
    "supplier": "S_SUPPKEY BIGINT, S_NAME VARCHAR, S_ADDRESS VARCHAR, S_CITY VARCHAR, "
                "S_NATION VARCHAR, S_REGION VARCHAR, S_PHONE VARCHAR",
}


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _keyed(prefix, keys):
    return np.char.add(prefix, np.char.zfill(keys.astype(str), 9)).astype(object)


def _address(rng, n):
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789 ", dtype="S1")
    raw = letters[rng.integers(0, len(letters), (n, 15))]
    return raw.view("S15").ravel().astype(str).astype(object)


def _phone(rng, nation_idx):
    n = len(nation_idx)
    parts = [(nation_idx + 10).astype(str), rng.integers(100, 1000, n).astype(str),
             rng.integers(100, 1000, n).astype(str),
             rng.integers(1000, 10000, n).astype(str)]
    out = parts[0]
    for p in parts[1:]:
        out = np.char.add(np.char.add(out, "-"), p)
    return out.astype(object)


def _geo(rng, n):
    """City/nation/region the way dbgen spells them: a 9-letter nation
    prefix plus a digit."""
    idx = rng.integers(0, len(NATIONS), n)
    nation = np.asarray([x[0] for x in NATIONS], dtype=object)[idx]
    region = np.asarray([x[1] for x in NATIONS], dtype=object)[idx]
    prefix = np.asarray([x[0][:9].ljust(9) for x in NATIONS], dtype=object)[idx]
    city = (prefix + rng.integers(0, 10, n).astype(str)).astype(object)
    return idx, city, nation, region


def _write(path, cols):
    """Write rows as `|`-delimited, unquoted, headerless text; columns
    are equal-length arrays (numpy datetime64 days become dates)."""
    import pyarrow as pa
    import pyarrow.csv as pacsv
    table = pa.table({f"c{i}": pa.array(c) for i, c in enumerate(cols)})
    pacsv.write_csv(table, path, pacsv.WriteOptions(
        include_header=False, delimiter="|", quoting_style="none"))


def ssb_tables(out_dir, seed, sf):
    """Write the four SSB `.tbl` sources at scale factor `sf` and return
    their row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_lo = max(1, int(LINEORDER_SF1 * sf))
    n_c = max(1, int(CUSTOMER_SF1 * sf))
    n_p = max(1, int(PART_SF1 * sf))
    n_s = max(1, int(SUPPLIER_SF1 * sf))

    ck = np.arange(1, n_c + 1)
    nidx, city, nation, region = _geo(rng, n_c)
    _write(os.path.join(out_dir, "customer.tbl"), [
        ck, _keyed("Customer#", ck), _address(rng, n_c), city, nation, region,
        _phone(rng, nidx), _pick(rng, SEGMENTS, n_c)])

    sk = np.arange(1, n_s + 1)
    nidx, city, nation, region = _geo(rng, n_s)
    _write(os.path.join(out_dir, "supplier.tbl"), [
        sk, _keyed("Supplier#", sk), _address(rng, n_s), city, nation, region,
        _phone(rng, nidx)])

    pk = np.arange(1, n_p + 1)
    mfgr = rng.integers(1, 6, n_p)
    cat = rng.integers(1, 6, n_p)
    brand = rng.integers(1, 41, n_p)
    mfgr_s = np.char.add("MFGR#", mfgr.astype(str))
    cat_s = np.char.add(mfgr_s, cat.astype(str))
    brand_s = np.char.add(cat_s, np.char.zfill(brand.astype(str), 2))
    color = _pick(rng, COLORS, n_p)
    name = (color + " " + _pick(rng, COLORS, n_p)).astype(object)
    _write(os.path.join(out_dir, "part.tbl"), [
        pk, name, mfgr_s, cat_s, brand_s, color, _pick(rng, TYPES, n_p),
        rng.integers(1, 51, n_p), _pick(rng, CONTAINERS, n_p)])

    # orders of 1-7 lines each, numbered the way dbgen numbers them
    lines_per = rng.integers(1, 8, n_lo)
    starts = np.cumsum(lines_per) - lines_per
    n_orders = int(np.searchsorted(starts, n_lo))
    lines_per, starts = lines_per[:n_orders], starts[:n_orders]
    order_of_row = np.repeat(np.arange(n_orders), lines_per)[:n_lo]
    linenumber = np.arange(n_lo) - starts[order_of_row] + 1
    orderkey = order_of_row + 1
    o_cust = rng.integers(1, n_c + 1, n_orders)
    o_date = rng.integers(0, DATE_DAYS, n_orders)
    o_prio = rng.integers(0, len(PRIORITIES), n_orders)
    qty = rng.integers(1, 51, n_lo)
    partkey = rng.integers(1, n_p + 1, n_lo)
    price = rng.integers(90_000, 200_000, n_p)[partkey - 1]
    ext = qty * price // 100
    disc = rng.integers(0, 11, n_lo)
    tax = rng.integers(0, 9, n_lo)
    revenue = ext * (100 - disc) // 100
    total = np.bincount(order_of_row, weights=ext * (100 + tax) // 100,
                        minlength=n_orders).astype(np.int64)
    odate = o_date[order_of_row]
    commit = np.minimum(odate + rng.integers(30, 91, n_lo), DATE_DAYS - 1)
    _write(os.path.join(out_dir, "lineorder.tbl"), [
        orderkey, linenumber, o_cust[order_of_row], partkey,
        rng.integers(1, n_s + 1, n_lo),
        (DATE_LO + odate), np.asarray(PRIORITIES, dtype=object)[o_prio][order_of_row],
        np.zeros(n_lo, dtype=np.int64), qty, ext, total[order_of_row], disc, revenue,
        6 * price // 10, tax, (DATE_LO + commit), _pick(rng, SHIPMODES, n_lo)])
    return {"lineorder": n_lo, "customer": n_c, "part": n_p, "supplier": n_s}


def duckdb_q1(tbl_dir):
    """Q1.1-Q1.3 over the star of the `.tbl` files, answered by DuckDB:
    `{name: (revenue, selected_rows)}`."""
    import duckdb
    con = duckdb.connect()
    try:
        for t, cols in COLUMNS.items():
            spec = ", ".join(f"'{c.split()[0]}': '{c.split()[1]}'"
                             for c in (x.strip() for x in cols.split(",")))
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_csv('{tbl_dir}/{t}.tbl', "
                f"delim='|', header=false, quote='', columns={{{spec}}}, "
                "dateformat='%Y-%m-%d')")
        con.execute(
            "CREATE VIEW star AS SELECT l.*, c.* EXCLUDE (C_CUSTKEY), "
            "s.* EXCLUDE (S_SUPPKEY), p.* EXCLUDE (P_PARTKEY) FROM lineorder l "
            "JOIN customer c ON C_CUSTKEY = LO_CUSTKEY "
            "JOIN supplier s ON S_SUPPKEY = LO_SUPPKEY "
            "JOIN part p ON P_PARTKEY = LO_PARTKEY")
        out = {}
        for name, pred in Q1.items():
            rev, n = con.execute(
                f"SELECT sum(LO_EXTENDEDPRICE * LO_DISCOUNT)::BIGINT, count(*) "
                f"FROM star WHERE {pred}").fetchone()
            out[name] = (rev, n)
        out["star_rows"] = con.execute("SELECT count(*) FROM star").fetchone()[0]
        return out
    finally:
        con.close()


def event_landing_zone(events_parquet, out_dir, seed, files=5):
    """Split `events_parquet` into `files` event-time-ordered files at
    seeded boundaries. Returns the file paths in arrival order."""
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    table = pq.read_table(events_parquet)
    table = table.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    n = table.num_rows
    cuts = np.sort(rng.choice(np.arange(1, n), size=files - 1, replace=False))
    bounds = [0, *cuts.tolist(), n]
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(files):
        p = os.path.join(out_dir, f"events-{i:03d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        paths.append(p)
    return paths


def checksum(paths):
    """SHA-256 over the bytes of `paths`, in order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()
