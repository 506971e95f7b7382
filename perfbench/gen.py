"""Seeded input generator for the benchmark workloads (DuckDB only).

Every table is a pure function of (seed, scale): each value comes from
DuckDB's `hash()` over the row id, a per-column salt and the seed, so one
seed always yields byte-identical inputs. Shapes follow the ten-table
corpus the library's queries are written against (TPC-H-like star schema,
an events stream, documents and embeddings; column types as FIXTURES.md
lists them). At scale 1 the row counts are those of the sf0.01 corpus.

Products:
  corpus(con, dir, scale)           the ten tables (the battery workload)
  recon_inputs(con, dir, scale)     src/ corpus, tgt/ divergent copy and
                                    manifest.json: the expected report,
                                    drill-down keys and tolerance counts,
                                    computed from the written files
  cdc_inputs(con, dir, scale, n)    base/orders, batch_<i>/ change feeds
                                    and expected/ final snapshot
recon_cdc runs on both of the last two.
"""
import json
import os

import duckdb

TABLES = ["region", "nation", "supplier", "part", "customer", "orders",
          "lineitem", "events", "documents", "embeddings"]

NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _vocab():
    cons, vows = "bcdfghklmnprstvz", "aeiou"
    sy = [c + v for c in cons for v in vows]
    return [sy[i % 80] + sy[(i * 7 + 3) % 80] + ("" if i % 3 else sy[(i * 13) % 80])
            for i in range(400)]


def _sql_list(xs):
    return "[" + ",".join("'" + x.replace("'", "''") + "'" for x in xs) + "]"


def connect(seed):
    con = duckdb.connect()
    # never reach for the network: extensions load only if bundled
    con.execute("SET autoinstall_known_extensions=false")
    con.execute("SET autoload_known_extensions=false")
    con.execute("SET threads=2")
    # r(i, salt) in [0, 1): the one randomness source, keyed by the seed
    con.execute(f"CREATE MACRO r(i, salt) AS "
                f"(hash(i, salt, {int(seed)}) % 1000003) / 1000003.0")
    con.execute(f"CREATE MACRO ri(i, salt, n) AS "
                f"CAST(hash(i, salt, {int(seed)}) % n AS BIGINT)")
    return con


def _copy(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def corpus(con, d, scale, tables=TABLES):
    """Write `tables` of the corpus at `scale` into d; return row counts."""
    os.makedirs(d, exist_ok=True)
    n_sup, n_part = int(100 * scale), int(2000 * scale)
    n_cust, n_ord = int(1500 * scale), int(15000 * scale)
    n_ev, n_users = int(10000 * scale), max(10, int(150 * scale))
    n_doc, n_emb = 500, 500
    words = _sql_list(_vocab())
    p = lambda t: os.path.join(d, f"{t}.parquet")

    def out(sql, table):
        if table in tables:
            _copy(con, sql, p(table))
    out(f"""SELECT CAST(i AS INTEGER) r_regionkey,
          {_sql_list(REGIONS)}[i + 1] r_name FROM range(5) t(i)""", "region")
    out(f"""SELECT CAST(i AS INTEGER) n_nationkey,
          {_sql_list(NATIONS)}[i + 1] n_name,
          CAST(i % 5 AS INTEGER) n_regionkey FROM range(25) t(i)""", "nation")
    out(f"""SELECT i s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') s_name,
          CAST(ri(i, 's_n', 25) AS INTEGER) s_nationkey,
          round(-999.99 + r(i, 's_a') * 10999.98, 2) s_acctbal
        FROM range(1, {n_sup} + 1) t(i)""", "supplier")
    out(f"""SELECT i p_partkey,
          {words}[1 + ri(i, 'p_n1', 400)] || ' ' || {words}[1 + ri(i, 'p_n2', 400)] p_name,
          'Brand#' || (1 + ri(i, 'p_b1', 5)) || (1 + ri(i, 'p_b2', 5)) p_brand,
          ['STANDARD','SMALL','MEDIUM','LARGE','ECONOMY','PROMO'][1 + ri(i, 'p_t1', 6)] || ' ' ||
          ['ANODIZED','BURNISHED','PLATED','POLISHED','BRUSHED'][1 + ri(i, 'p_t2', 5)] || ' ' ||
          ['TIN','NICKEL','BRASS','STEEL','COPPER'][1 + ri(i, 'p_t3', 5)] p_type,
          CAST(1 + ri(i, 'p_s', 50) AS INTEGER) p_size,
          round(900 + (i % 20001) / 10.0 + 100 * (i % 1000) / 1000.0, 2) p_retailprice
        FROM range(1, {n_part} + 1) t(i)""", "part")
    out(f"""SELECT i c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') c_name,
          CAST(ri(i, 'c_n', 25) AS INTEGER) c_nationkey,
          round(-999.99 + r(i, 'c_a') * 10999.98, 2) c_acctbal,
          ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'][1 + ri(i, 'c_m', 5)] c_mktsegment
        FROM range(1, {n_cust} + 1) t(i)""", "customer")
    con.execute(f"""CREATE OR REPLACE TEMP TABLE o AS SELECT i o_orderkey,
          1 + ri(i, 'o_c', {n_cust}) o_custkey,
          CASE WHEN r(i, 'o_s') < 0.49 THEN 'F' WHEN r(i, 'o_s') < 0.98 THEN 'O' ELSE 'P' END o_orderstatus,
          round(850 + r(i, 'o_p') * 450000, 2) o_totalprice,
          TIMESTAMP '1995-01-01' + to_days(CAST(ri(i, 'o_d', 2404) AS INTEGER)) o_orderdate,
          ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][1 + ri(i, 'o_o', 5)] o_orderpriority
        FROM range(1, {n_ord} + 1) t(i)""")
    out("SELECT * FROM o ORDER BY o_orderkey", "orders")
    out(f"""SELECT o_orderkey l_orderkey,
          1 + ri(o_orderkey * 8 + ln, 'l_p', {n_part}) l_partkey,
          1 + ri(o_orderkey * 8 + ln, 'l_s', {n_sup}) l_suppkey,
          CAST(ln AS INTEGER) l_linenumber,
          CAST(1 + ri(o_orderkey * 8 + ln, 'l_q', 50) AS DOUBLE) l_quantity,
          round((1 + ri(o_orderkey * 8 + ln, 'l_q', 50)) * (900 + r(o_orderkey * 8 + ln, 'l_e') * 1100), 2) l_extendedprice,
          ri(o_orderkey * 8 + ln, 'l_d', 11) / 100.0 l_discount,
          ri(o_orderkey * 8 + ln, 'l_t', 9) / 100.0 l_tax,
          CASE WHEN o_orderdate > TIMESTAMP '1999-06-17' THEN 'N'
               WHEN r(o_orderkey * 8 + ln, 'l_r') < 0.5 THEN 'R' ELSE 'A' END l_returnflag,
          CASE WHEN o_orderdate > TIMESTAMP '1999-06-17' THEN 'O' ELSE 'F' END l_linestatus,
          o_orderdate + to_days(CAST(1 + ri(o_orderkey * 8 + ln, 'l_sd', 121) AS INTEGER)) l_shipdate
        FROM o, range(1, 8) t(ln) WHERE ln <= 1 + ri(o_orderkey, 'l_n', 7)
        ORDER BY l_orderkey, l_linenumber""", "lineitem")
    out(f"""SELECT i event_id,
          TIMESTAMP '2024-01-01' + to_microseconds(CAST((i * 2592000.0 / {n_ev}
              + r(i, 'e_j') * 600) * 1000000 AS BIGINT)) ts,
          1 + CAST(floor({n_users} * pow(r(i, 'e_u'), 1.6)) AS BIGINT) user_id,
          CASE WHEN r(i, 'e_t') < 0.45 THEN 'view' WHEN r(i, 'e_t') < 0.75 THEN 'click'
               WHEN r(i, 'e_t') < 0.88 THEN 'purchase' WHEN r(i, 'e_t') < 0.95 THEN 'signup'
               ELSE 'error' END event_type,
          round(r(i, 'e_v') * 500, 2) "value",
          '{{"k": ' || ri(i, 'e_k', 100) || '}}' props
        FROM range(1, {n_ev} + 1) t(i)""", "events")
    con.execute(f"CREATE OR REPLACE TEMP TABLE vocab AS "
                f"SELECT i - 1 AS idx, w FROM (SELECT unnest({words}) w, "
                f"generate_subscripts({words}, 1) i)")
    out(f"""WITH toks AS (
          SELECT i doc_id, j, CAST(floor(400 * pow(r(i * 1000 + j, 'd_w'), 2.5)) AS BIGINT) idx
          FROM range(1, {n_doc} + 1) t(i), range(98) u(j)
          WHERE j < 8 + ri(i, 'd_n', 90)),
        base AS (SELECT doc_id, string_agg(w, ' ' ORDER BY j) txt
          FROM toks JOIN vocab USING (idx) GROUP BY doc_id),
        docs AS (SELECT b.doc_id,
          CASE WHEN b.doc_id % 10 = 0 THEN p.txt
               WHEN b.doc_id % 13 = 0 THEN p.txt || ' ' || {words}[1 + ri(b.doc_id, 'd_x', 400)]
               ELSE b.txt END body
          FROM base b LEFT JOIN base p ON p.doc_id = b.doc_id - 1)
        SELECT doc_id, body AS "text",
          CASE WHEN r(doc_id, 'd_l') < 0.6 THEN 'en' ELSE ['de','es','fr','zh'][1 + ri(doc_id, 'd_l2', 4)] END lang,
          'src' || (doc_id % 20) "source",
          CAST(length(body) AS BIGINT) n_chars
        FROM docs ORDER BY doc_id""", "documents")
    out(f"""SELECT i vec_id,
          list_transform(range(64), j -> CAST(
              (ri(i, 'v_l', 10) * 37 + j * 11) % 19 / 19.0 - 0.5
              + (r(i * 64 + j, 'v_x') - 0.5) * 0.6 AS FLOAT)) AS embedding,
          CAST(ri(i, 'v_l', 10) AS INTEGER) AS "label"
        FROM range(1, {n_emb} + 1) t(i)""", "embeddings")
    return {t: con.execute(f"SELECT count(*) FROM '{p(t)}'").fetchone()[0]
            for t in tables}


# Recon pairs: (table, key column, compared columns). lineitem has no
# single-column key: both sides get the derived column l_key = LINE_KEY,
# recorded in the manifest for the driver program to apply.
LINE_KEY = "l_orderkey * 8 + l_linenumber"
PAIRS = [
    ("region", "r_regionkey", ["r_name"]),
    ("nation", "n_nationkey", ["n_name", "n_regionkey"]),
    ("supplier", "s_suppkey", ["s_name", "s_nationkey", "s_acctbal"]),
    ("part", "p_partkey", ["p_name", "p_brand", "p_type", "p_size", "p_retailprice"]),
    ("customer", "c_custkey", ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]),
    ("orders", "o_orderkey", ["o_custkey", "o_orderstatus", "o_totalprice",
                              "o_orderdate", "o_orderpriority"]),
    ("lineitem", "l_key", ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                           "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                           "l_returnflag", "l_linestatus", "l_shipdate"]),
    ("events", "event_id", ["ts", "user_id", "event_type", "value", "props"]),
]
# money column per pair, edited within and beyond TOLERANCE
MONEY = {"orders": "o_totalprice", "lineitem": "l_extendedprice"}
TOLERANCE = 0.01
# the target's type-drifted column: stored as DECIMAL(12,2)
DRIFT = ("customer", "c_acctbal", "DECIMAL(12,2)", "decimal(12,2)")
# a non-money column edited per pair (the mismatch class without a money column)
EDIT = {"supplier": "s_name", "customer": "c_name", "events": "event_type"}
STALE = ("2024-01-20", "2024-01-22")
CLEAN = {"region", "nation", "part"}  # events rows re-served with old values


def _keyed(table, path):
    if table == "lineitem":
        return f"(SELECT *, {LINE_KEY} AS l_key FROM '{path}')"
    return f"'{path}'"


def recon_inputs(con, d, scale):
    src, tgt = os.path.join(d, "src"), os.path.join(d, "tgt")
    counts = corpus(con, src, scale, [t for t, _, _ in PAIRS])
    os.makedirs(tgt, exist_ok=True)
    manifest = {"tolerance": TOLERANCE, "drift": {"table": DRIFT[0], "column": DRIFT[1],
                                                   "tgt_type": DRIFT[3]},
                "src_rows": counts, "pairs": {}}
    for table, key, cols in PAIRS:
        sp = os.path.join(src, f"{table}.parquet")
        tp = os.path.join(tgt, f"{table}.parquet")
        k = LINE_KEY if table == "lineitem" else key
        # plant class per key: <10 dropped, 10-19 money +5 (beyond the
        # tolerance), 20-29 money +0.004 (within it), 30-34 duplicated,
        # 35-44 column edit, 50-54 copied under a new key (extra)
        c = f"ri({k}, 'plant_{table}', 1000)"
        sel = []
        names = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM '{sp}'").fetchall()]
        for n in names:
            e = n
            if MONEY.get(table) == n:
                e = (f"CASE WHEN {c} BETWEEN 10 AND 19 THEN {n} + 5.0 "
                     f"WHEN {c} BETWEEN 20 AND 29 THEN {n} + 0.004 ELSE {n} END")
            if EDIT.get(table) == n:
                e = f"CASE WHEN {c} BETWEEN 35 AND 44 THEN upper({n}) || '*' ELSE {n} END"
            if table == "events" and n == "value":
                e = (f"CASE WHEN ts >= TIMESTAMP '{STALE[0]}' AND ts < TIMESTAMP '{STALE[1]}' "
                     f"THEN \"value\" + 1.0 ELSE \"value\" END")
            if table == DRIFT[0] and n == DRIFT[1]:
                e = f"CAST({n} AS {DRIFT[2]})"
            sel.append(f"{e} AS \"{n}\"")
        proj = ", ".join(sel)
        # region, nation and part stay clean: three pairs pass
        big = table not in CLEAN
        keep = f"{c} >= 10" if big else "TRUE"
        dup = f"{c} BETWEEN 30 AND 34" if big else "FALSE"
        extra = ""
        if big:
            kmax = con.execute(f"SELECT max({key if table != 'lineitem' else 'l_orderkey'}) FROM '{sp}'").fetchone()[0]
            if table == "lineitem":
                # extra lines on existing orders: line number 8 never occurs,
                # and its derived key o * 8 + 8 is no other line's key
                extra = (f" UNION ALL SELECT {proj.replace('l_linenumber AS', 'CAST(8 AS INTEGER) AS')} "
                         f"FROM '{sp}' WHERE {c} BETWEEN 50 AND 54 AND l_linenumber = 1")
            else:
                extra = (f" UNION ALL SELECT {proj.replace(f'{key} AS', f'{key} + {kmax} AS', 1)} "
                         f"FROM '{sp}' WHERE {c} BETWEEN 50 AND 54")
        _copy(con, f"""SELECT {proj} FROM '{sp}' WHERE {keep}
            UNION ALL SELECT {proj} FROM '{sp}' WHERE {dup}{extra}""", tp)
        manifest["pairs"][table] = _expected_pair(con, table, key, cols, sp, tp)
    json.dump(manifest, open(os.path.join(d, "manifest.json"), "w"), indent=1, sort_keys=True)
    return manifest


def _expected_pair(con, table, key, cols, sp, tp):
    """The pair's expected report, drill-down keys and tolerance count,
    computed by value comparison over the written files — independent of
    the library's hashing. Drifted columns are left out of the compare."""
    cols = [c for c in cols if not (table == DRIFT[0] and c == DRIFT[1])]
    s, t = _keyed(table, sp), _keyed(table, tp)
    q = lambda sql: con.execute(sql).fetchall()
    tup = lambda a: "(" + ", ".join(f'{a}."{c}"' for c in cols) + ")"
    one = lambda sql: q(sql)[0][0]
    src_n, tgt_n = one(f"SELECT count(*) FROM {s}"), one(f"SELECT count(*) FROM {t}")
    sk = f"(SELECT DISTINCT * FROM {s})"
    tk = f"(SELECT DISTINCT * FROM {t})"
    mism = sorted(r[0] for r in q(f"""SELECT a.{key} FROM {sk} a JOIN {tk} b USING ({key})
        WHERE {tup('a')} IS DISTINCT FROM {tup('b')}"""))
    miss = sorted(r[0] for r in q(f"SELECT {key} FROM {s} EXCEPT SELECT {key} FROM {t}"))
    extra = sorted(r[0] for r in q(f"SELECT {key} FROM {t} EXCEPT SELECT {key} FROM {s}"))
    dups = lambda x: one(f"SELECT count(*) FROM (SELECT {key} FROM {x} GROUP BY 1 HAVING count(*) > 1)")
    out = {"key": key, "derive": LINE_KEY if table == "lineitem" else None,
           "cols": cols, "src_n": src_n, "tgt_n": tgt_n,
           "mismatch": mism, "missing_in_target": miss, "extra_in_target": extra,
           "dup_src": dups(s), "dup_tgt": dups(t),
           "schema_drift": 1 if table == DRIFT[0] else 0}
    m = MONEY.get(table)
    if m:
        out["money"] = m
        out["tolerance_mismatches"] = one(f"""SELECT count(*) FROM {s} a JOIN {t} b USING ({key})
            WHERE (a.{m} IS NULL) <> (b.{m} IS NULL)
               OR abs(CAST(a.{m} AS DOUBLE) - CAST(b.{m} AS DOUBLE)) > {TOLERANCE}""")
    return out


def cdc_inputs(con, d, scale, batches):
    """Base orders snapshot, `batches` change feeds with several seq'd
    I/U/D changes per key, and the expected final snapshot (each batch
    compacted to its last change per key, then applied in order)."""
    os.makedirs(d, exist_ok=True)
    n_ord = int(15000 * scale)
    corpus_dir = os.path.join(d, "base")
    os.makedirs(corpus_dir, exist_ok=True)
    con.execute(f"""CREATE OR REPLACE TEMP TABLE state AS SELECT i o_orderkey,
          1 + ri(i, 'o_c', {int(1500 * scale)}) o_custkey,
          CASE WHEN r(i, 'o_s') < 0.49 THEN 'F' WHEN r(i, 'o_s') < 0.98 THEN 'O' ELSE 'P' END o_orderstatus,
          round(850 + r(i, 'o_p') * 450000, 2) o_totalprice,
          TIMESTAMP '1995-01-01' + to_days(CAST(ri(i, 'o_d', 2404) AS INTEGER)) o_orderdate,
          ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][1 + ri(i, 'o_o', 5)] o_orderpriority
        FROM range(1, {n_ord} + 1) t(i)""")
    _copy(con, "SELECT * FROM state ORDER BY o_orderkey", os.path.join(corpus_dir, "orders.parquet"))
    cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
    change_rows = []
    for b in range(batches):
        c = f"ri(o_orderkey, 'cdc_{b}', 1000)"
        ins0 = n_ord * (b + 2)
        n_ins = n_ord // 50
        feed = f"""
          -- contested updates: a poisoned seq 1, the seq 2 restatement wins
          SELECT {cols.replace('o_totalprice', 'o_totalprice + 1000000 AS o_totalprice')}, 'U' op, 1::BIGINT seq
            FROM state WHERE {c} < 60
          UNION ALL SELECT {cols.replace('o_totalprice', f'round(o_totalprice * 1.1, 2) AS o_totalprice').replace('o_orderpriority', "'5-RESTATED' AS o_orderpriority")}, 'U', 2
            FROM state WHERE {c} < 60
          -- update then delete: the delete must survive compaction
          UNION ALL SELECT {cols.replace('o_totalprice', 'o_totalprice + 1000000 AS o_totalprice')}, 'U', 1
            FROM state WHERE {c} BETWEEN 60 AND 84
          UNION ALL SELECT {cols}, 'D', 2 FROM state WHERE {c} BETWEEN 60 AND 84
          -- fresh keys: insert, then an update of the inserted row
          UNION ALL SELECT i, 1 + ri(i, 'i_c', 100), 'O', round(100 + r(i, 'i_p') * 1000, 2),
              TIMESTAMP '2001-08-01', '3-MEDIUM', 'I', 1
            FROM range({ins0}, {ins0 + n_ins}) t(i)
          UNION ALL SELECT i, 1 + ri(i, 'i_c', 100), 'O', round(200 + r(i, 'i_p') * 1000, 2),
              TIMESTAMP '2001-08-01', '2-HIGH', 'U', 3
            FROM range({ins0}, {ins0 + n_ins}) t(i) WHERE i % 2 = 0"""
        bd = os.path.join(d, f"batch_{b}")
        os.makedirs(bd, exist_ok=True)
        bp = os.path.join(bd, "changes.parquet")
        _copy(con, f"SELECT * FROM ({feed}) ORDER BY o_orderkey, seq", bp)
        change_rows.append(con.execute(f"SELECT count(*) FROM '{bp}'").fetchone()[0])
        con.execute(f"""CREATE OR REPLACE TEMP TABLE last AS
            SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER
              (PARTITION BY o_orderkey ORDER BY seq DESC) rn FROM '{bp}') WHERE rn = 1""")
        con.execute(f"""CREATE OR REPLACE TEMP TABLE state AS
            SELECT * FROM state WHERE o_orderkey NOT IN (SELECT o_orderkey FROM last)
            UNION ALL SELECT {cols} FROM last WHERE op <> 'D'""")
    ed = os.path.join(d, "expected")
    os.makedirs(ed, exist_ok=True)
    _copy(con, "SELECT * FROM state ORDER BY o_orderkey", os.path.join(ed, "orders.parquet"))
    info = {"base_rows": n_ord, "batches": batches, "change_rows": change_rows,
            "expected_rows": con.execute("SELECT count(*) FROM state").fetchone()[0]}
    json.dump(info, open(os.path.join(d, "cdc.json"), "w"), indent=1)
    return info
