"""Seeded input generator: the ten fixture tables, written as parquet by
DuckDB.

Every random draw is ``hash(seed, row, tag)`` mapped to [0, 1), so the
same (seed, scale, copies) always yields the same rows in the same order. Shapes and value domains follow the fixture
tables the operators were written against (TESTDATA.md): a TPC-H-style
star schema, a month of click events, a 31-word synthetic corpus with
verbatim and near duplicates, and 64-dim unit embeddings around ten
label centres.

``copies > 1`` replicates the base tables with per-copy key offsets, as
``tools/scaling_probe.py`` builds its larger scales. The seed also
permutes the row order of every fact table.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import duckdb

VOCAB = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data dup part column order scan a slow agg key "
    "window table merge vector join"
).split()

# per-copy key offsets for replicated tables; dimension tables are
# written once so the star schema's foreign keys stay valid
OFFSETS = {
    "documents": ("doc_id", 1_000_000),
    "embeddings": ("vec_id", 1_000_000),
    "events": ("event_id", 10_000_000),
    "orders": ("o_orderkey", 100_000_000),
    "lineitem": ("l_orderkey", 100_000_000),
}
# fact tables whose row order the seed permutes
PERMUTED = ("customer", "part", "orders", "lineitem", "events",
            "documents", "embeddings")


def sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(50, int(200_000 * sf)),
        "orders": max(500, int(1_500_000 * sf)),
        "users": max(50, int(15_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _base_sql(n: dict[str, int]) -> dict[str, str]:
    """One SELECT per table over ``range``; ``u(i, tag)`` is uniform."""
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    d95 = "TIMESTAMP '1995-01-01'"
    return {
        "region": """
            SELECT i::INTEGER AS r_regionkey,
                   (['AFRICA', 'AMERICA', 'ASIA', 'EUROPE',
                     'MIDDLE EAST'])[i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """
            SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
                   (i % 5)::INTEGER AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""
            SELECT i AS c_custkey, printf('Customer#%09d', i) AS c_name,
                   ui(i, 'nat', 25)::INTEGER AS c_nationkey,
                   round(-999.99 + u(i, 'bal') * 10999.98, 2) AS c_acctbal,
                   (['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD',
                     'MACHINERY'])[ui(i, 'seg', 5) + 1] AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""
            SELECT i AS s_suppkey, printf('Supplier#%09d', i) AS s_name,
                   ui(i, 'nat', 25)::INTEGER AS s_nationkey,
                   round(-999.99 + u(i, 'bal') * 10999.98, 2) AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""
            SELECT i AS p_partkey,
                   (['blue', 'old', 'small', 'new', 'large', 'hot', 'cold',
                     'red'])[ui(i, 'adj', 8) + 1] || ' ' ||
                   (['widget', 'gizmo', 'ring', 'gear', 'bolt', 'plate',
                     'rod', 'anvil'])[ui(i, 'noun', 8) + 1] AS p_name,
                   'Brand#' || (ui(i, 'brand', 25) + 1) AS p_brand,
                   (['LARGE', 'ECONOMY', 'STANDARD', 'SMALL', 'MEDIUM',
                     'PROMO'])[ui(i, 'type', 6) + 1] AS p_type,
                   (ui(i, 'size', 50) + 1)::INTEGER AS p_size,
                   round(900 + (i % 1000) * 0.1, 1) AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""
            SELECT i AS o_orderkey,
                   ui(i, 'cust', {n['customer']})::BIGINT AS o_custkey,
                   (['O', 'F', 'P'])[ui(i, 'st', 3) + 1] AS o_orderstatus,
                   round(1000 + u(i, 'tp') * 499000, 2) AS o_totalprice,
                   {d95} + to_days(ui(i, 'od', 2404)::INTEGER)
                       AS o_orderdate,
                   (['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
                     '5-LOW'])[ui(i, 'pr', 5) + 1] AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""
            SELECT ui(i, 'ok', {n['orders']})::BIGINT AS l_orderkey,
                   ui(i, 'pk', {n['part']})::BIGINT AS l_partkey,
                   ui(i, 'sk', {n['supplier']})::BIGINT AS l_suppkey,
                   (ui(i, 'ln', 7) + 1)::INTEGER AS l_linenumber,
                   (ui(i, 'q', 50) + 1)::DOUBLE AS l_quantity,
                   round(900 + u(i, 'ep') * 104099, 2) AS l_extendedprice,
                   ui(i, 'disc', 11) / 100.0 AS l_discount,
                   ui(i, 'tax', 9) / 100.0 AS l_tax,
                   (['N', 'A', 'R'])[ui(i, 'rf', 3) + 1] AS l_returnflag,
                   (['O', 'F'])[ui(i, 'ls', 2) + 1] AS l_linestatus,
                   {d95} + to_days((ui(i, 'sd', 2498) + 1)::INTEGER)
                       AS l_shipdate
            FROM range({4 * n['orders']}) t(i)""",
        "events": f"""
            SELECT i AS event_id,
                   (TIMESTAMP '2024-01-01'
                    + to_microseconds(ui(i, 'ts', 2592000000000)))
                       ::TIMESTAMP_NS AS ts,
                   ui(i, 'usr', {n['users']})::BIGINT AS user_id,
                   (['view', 'click', 'purchase', 'signup', 'error'])
                       [ui(i, 'et', 5) + 1] AS event_type,
                   round(u(i, 'val') * 560, 2) AS value,
                   '{{"k": ' || ui(i, 'k', 100) || '}}' AS props
            FROM range({n['events']}) t(i)""",
        # a tenth of the docs repeat an earlier doc verbatim and another
        # tenth repeat it with one word appended: work for the dedup ops
        "documents": f"""
            WITH base AS (
                SELECT i, list_aggr(list_transform(
                           range(10 + ui(i, 'len', 91)),
                           j -> {vocab}[(hash($seed, i, j) % 31)::INTEGER + 1]),
                           'string_agg', ' ') AS body,
                       u(i, 'dup') AS r,
                       CASE WHEN i = 0 THEN 0 ELSE ui(i, 'src', i) END AS src
                FROM range({n['documents']}) t(i)
            ),
            txt AS (
                SELECT b.i,
                       CASE WHEN b.r < 0.1 THEN s.body
                            WHEN b.r < 0.2 THEN s.body || ' '
                                 || {vocab}[ui(b.i, 'w', 31)::INTEGER + 1]
                            ELSE b.body END AS text
                FROM base b JOIN base s ON s.i = b.src
            )
            SELECT i AS doc_id, text,
                   CASE WHEN u(i, 'lang') < 0.4 THEN 'en'
                        ELSE (['de', 'es', 'fr', 'zh'])[ui(i, 'l2', 4) + 1]
                   END AS lang,
                   'src' || ui(i, 'source', 20) AS source,
                   length(text)::BIGINT AS n_chars
            FROM txt""",
        # Box-Muller normals around one of ten label centres, unit norm
        "embeddings": f"""
            WITH raw AS (
                SELECT i, ui(i, 'lab', 10)::INTEGER AS label,
                       list_transform(range(64), j ->
                           gauss(hash($seed, 'c', ui(i, 'lab', 10), j),
                                 hash($seed, 'c2', ui(i, 'lab', 10), j))
                           + 0.6 * gauss(hash($seed, 'n', i, j),
                                         hash($seed, 'n2', i, j))) AS v
                FROM range({n['embeddings']}) t(i)
            )
            SELECT i AS vec_id,
                   list_transform(v, x -> (x / sqrt(list_sum(
                       list_transform(v, y -> y * y))))::FLOAT) AS embedding,
                   label
            FROM raw""",
    }


def generate(out_dir: str, seed: int, sf: float, copies: int = 1) -> dict:
    """Write the ten tables under ``out_dir`` (atomically: a partial dir
    is never left behind under the final name) and return a manifest with
    each table's rows and bytes and the generation time."""
    t0 = time.perf_counter()
    tmp = out_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    n = sizes(sf)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(f"SET temp_directory = '{tmp}/.duck'")
    s = int(seed)
    con.execute(f"CREATE MACRO u(i, tag) AS "
                f"(hash({s}, i, tag) % 1000000007)::DOUBLE / 1000000007")
    con.execute(f"CREATE MACRO ui(i, tag, m) AS (hash({s}, i, tag) % m)::BIGINT")
    con.execute("CREATE MACRO unit(h) AS "
                "((h % 1000000007) + 1)::DOUBLE / 1000000008")
    con.execute("CREATE MACRO gauss(h1, h2) AS "
                "sqrt(-2 * ln(unit(h1))) * cos(2 * pi() * unit(h2))")
    tables = {}
    for name, sql in _base_sql(n).items():
        sql = sql.replace("$seed", str(s))
        if name in OFFSETS and copies > 1:
            key, step = OFFSETS[name]
            sql = (f"SELECT * REPLACE ({key} + c * {step} AS {key}), c AS _c "
                   f"FROM ({sql}) base, range({copies}) r(c)")
        else:
            sql = f"SELECT *, 0 AS _c FROM ({sql}) base"
        if name in PERMUTED:
            desc = con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description
            cols = ", ".join(f'"{d[0]}"' for d in desc if d[0] != "_c")
            sql = (f"SELECT * EXCLUDE (_c) FROM ({sql}) "
                   f"ORDER BY hash({s}, 'perm', _c, {cols})")
        else:
            sql = f"SELECT * EXCLUDE (_c) FROM ({sql})"
        path = os.path.join(tmp, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
        rows = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
        tables[name] = {"rows": rows, "bytes": os.path.getsize(path)}
    con.close()
    shutil.rmtree(os.path.join(tmp, ".duck"), ignore_errors=True)
    manifest = {"seed": s, "sf": sf, "copies": copies, "tables": tables,
                "gen_s": time.perf_counter() - t0}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return manifest


def ensure(out_dir: str, seed: int, sf: float, copies: int = 1) -> dict:
    """Generate once per (dir, seed): reuse a complete earlier output."""
    mf = os.path.join(out_dir, "manifest.json")
    if os.path.exists(mf):
        with open(mf) as f:
            m = json.load(f)
        if (m["seed"], m["sf"], m["copies"]) == (int(seed), sf, copies):
            return dict(m, fresh=False)
    return dict(generate(out_dir, seed, sf, copies), fresh=True)
