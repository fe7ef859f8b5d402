"""Seeded input generator for the graft benchmark.

Writes the ten star-schema tables graft's `Tables` reads (region,
nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) as one parquet file each, with the column
names, types and value domains of the project's reference test
corpus. Every value is a pure function of (seed, table, row, column)
through DuckDB's `hash`, so the same seed gives byte-identical
inputs whatever the thread count.

The ingest workload's inputs (fold batches, verdict probes, hourly
event windows) come from `ingest_inputs`; its expected results
(row counts and verdicts) are derived here from the generator's own
construction, never from graft.
"""
import os
import random

import duckdb

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]

# Row counts of the reference corpus at scale factor 0.01.
SIZES = dict(customer=1500, supplier=100, part=2000, orders=15000,
             lineitem=60000, events=10000, documents=500, embeddings=500)

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

# Documents that are another document plus one word, as in the
# reference corpus (25 of its 500 documents).
PLANTED_DOCS = 25


def connect(threads=2):
    con = duckdb.connect()
    con.sql(f"SET threads={threads}")
    con.sql("SET memory_limit='1GB'")
    con.sql("SET preserve_insertion_order=true")
    return con


def _u(seed, salt, *cols):
    """Uniform double in [0, 1) from the hash of the string
    'seed:salt:col...' (hashing one string mixes far better than
    DuckDB's multi-argument hash, whose combined values collide in
    structured ways across salts)."""
    key = " || ':' || ".join([f"'{int(seed)}:{salt}'"] + list(cols))
    return f"((hash({key}) >> 11)::DOUBLE / 9007199254740992.0)"


def _i(seed, salt, lo, hi, *cols):
    """Uniform integer in [lo, hi]."""
    return f"({lo} + floor({_u(seed, salt, *cols)} * {hi - lo + 1})::BIGINT)"


def _pick(seed, salt, values, *cols):
    arr = "[" + ", ".join(f"'{v}'" for v in values) + "]"
    return f"{arr}[1 + floor({_u(seed, salt, *cols)} * {len(values)})::BIGINT]"


def _money(seed, salt, lo, hi, *cols):
    return f"round({lo} + {_u(seed, salt, *cols)} * {hi - lo}, 2)"


def _text(seed, salt, idcol, lo=10, vocab=None):
    """lo–99 words drawn from the reference vocabulary, or from
    `vocab` synthetic words `w0`, `w1`, ... when given."""
    n = _i(seed, salt + "n", lo, 99, idcol)
    u = _u(seed, salt + "w", idcol, "j")
    if vocab:
        pick = f"'w' || floor({u} * {vocab})::BIGINT"
    else:
        words = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"
        pick = f"{words}[1 + floor({u} * {len(WORDS)})::BIGINT]"
    return f"array_to_string(list_transform(range({n}), j -> {pick}), ' ')"


def _copy(con, sql, path):
    con.sql(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def documents_sql(seed, salt, n, id_offset=0, lo=10, vocab=None, plant=0):
    """`n` documents; `plant` of them (chosen by hash) are another
    document's text with one word appended, as the reference corpus
    plants contained near-duplicates."""
    text = _text(seed, salt, "i", lo, vocab)
    langs = ["en", "en", "en", "zh", "de", "fr", "es"]
    return f"""
      WITH base AS (
        SELECT i, {text} AS text, {_pick(seed, salt + 'lang', langs, 'i')} AS lang,
               row_number() OVER (ORDER BY {_u(seed, salt + 'pl', 'i')}, i) <= {plant}
                 AS planted,
               (i + 1 + {_i(seed, salt + 'pj', 0, n - 2, 'i')}) % {n} AS j,
               {_pick(seed, salt + 'pw', WORDS, 'i')} AS word
        FROM range({n}) t(i))
      SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars FROM (
        SELECT (a.i + {id_offset})::BIGINT AS doc_id,
               CASE WHEN a.planted THEN b.text || ' ' || a.word
                    ELSE a.text END AS text,
               a.lang, 'src' || (a.i % 20) AS source
        FROM base a JOIN base b ON b.i = a.j) ORDER BY doc_id"""


def tables(con, out, seed):
    """Write the ten tables (scale factor 0.01) under `out`."""
    os.makedirs(out, exist_ok=True)
    z = SIZES
    s = seed
    p = lambda t: os.path.join(out, f"{t}.parquet")
    _copy(con, """SELECT * FROM (VALUES (0, 'AFRICA'), (1, 'AMERICA'),
        (2, 'ASIA'), (3, 'EUROPE'), (4, 'MIDDLE EAST')) t(r_regionkey, r_name)""",
          p("region"))
    _copy(con, """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
        (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)""", p("nation"))
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _copy(con, f"""SELECT i::BIGINT AS c_custkey,
        'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
        {_i(s, 'cn', 0, 24, 'i')}::INTEGER AS c_nationkey,
        {_money(s, 'cb', -999.99, 9999.99, 'i')} AS c_acctbal,
        {_pick(s, 'cs', segs, 'i')} AS c_mktsegment
        FROM range({z['customer']}) t(i)""", p("customer"))
    _copy(con, f"""SELECT i::BIGINT AS s_suppkey,
        'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
        {_i(s, 'sn', 0, 24, 'i')}::INTEGER AS s_nationkey,
        {_money(s, 'sb', -999.99, 9999.99, 'i')} AS s_acctbal
        FROM range({z['supplier']}) t(i)""", p("supplier"))
    colors = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    ptypes = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    _copy(con, f"""SELECT i::BIGINT AS p_partkey,
        {_pick(s, 'pc', colors, 'i')} || ' ' || {_pick(s, 'pn', nouns, 'i')} AS p_name,
        'Brand#' || {_i(s, 'pb', 1, 25, 'i')} AS p_brand,
        {_pick(s, 'pt', ptypes, 'i')} AS p_type,
        {_i(s, 'ps', 1, 50, 'i')}::INTEGER AS p_size,
        round(900 + (i % 1000) / 10.0, 1) AS p_retailprice
        FROM range({z['part']}) t(i)""", p("part"))
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    _copy(con, f"""SELECT i::BIGINT AS o_orderkey,
        {_i(s, 'oc', 0, z['customer'] - 1, 'i')}::BIGINT AS o_custkey,
        {_pick(s, 'os', ['F', 'O', 'P'], 'i')} AS o_orderstatus,
        {_money(s, 'ot', 1000.0, 500000.0, 'i')} AS o_totalprice,
        (TIMESTAMP '1995-01-01' + to_days({_i(s, 'od', 0, 2404, 'i')}::INTEGER))
            AS o_orderdate,
        {_pick(s, 'op', prios, 'i')} AS o_orderpriority
        FROM range({z['orders']}) t(i)""", p("orders"))
    _copy(con, f"""SELECT
        {_i(s, 'lo', 0, z['orders'] - 1, 'i')}::BIGINT AS l_orderkey,
        {_i(s, 'lp', 0, z['part'] - 1, 'i')}::BIGINT AS l_partkey,
        {_i(s, 'ls', 0, z['supplier'] - 1, 'i')}::BIGINT AS l_suppkey,
        {_i(s, 'll', 1, 7, 'i')}::INTEGER AS l_linenumber,
        {_i(s, 'lq', 1, 50, 'i')}::DOUBLE AS l_quantity,
        {_money(s, 'le', 900.0, 105000.0, 'i')} AS l_extendedprice,
        {_i(s, 'ld', 0, 10, 'i')} / 100.0 AS l_discount,
        {_i(s, 'lt', 0, 8, 'i')} / 100.0 AS l_tax,
        {_pick(s, 'lr', ['A', 'N', 'R'], 'i')} AS l_returnflag,
        {_pick(s, 'lst', ['F', 'O'], 'i')} AS l_linestatus,
        (TIMESTAMP '1995-01-02' + to_days({_i(s, 'lsd', 0, 2498, 'i')}::INTEGER))
            AS l_shipdate
        FROM range({z['lineitem']}) t(i)""", p("lineitem"))
    _copy(con, events_sql(s, "ev", z["events"], 30 * 24), p("events"))
    _copy(con, documents_sql(s, "doc", z["documents"], plant=PLANTED_DOCS),
          p("documents"))
    _copy(con, embeddings_sql(s, z["embeddings"]), p("embeddings"))


def events_sql(seed, salt, n, hours, hour0=0, id_offset=0):
    """`n` events spread evenly over `hours` hours starting `hour0`
    hours after 2024-01-01, ids from `id_offset`, ts strictly rising."""
    span_us = hours * 3600 * 1000000
    step = span_us // n
    return f"""SELECT (i + {id_offset})::BIGINT AS event_id,
        (TIMESTAMP '2024-01-01' + to_microseconds(
            {hour0} * 3600000000 + i * {step}
            + floor({_u(seed, salt + 'ts', 'i')} * {step})::BIGINT)) AS ts,
        {_i(seed, salt + 'u', 0, 149, 'i')}::BIGINT AS user_id,
        {_pick(seed, salt + 't', EVENT_TYPES, 'i')} AS event_type,
        round(least(0.01 - 50 * ln(1 - {_u(seed, salt + 'v', 'i')}), 490.0), 2)
            AS value,
        '{{"k": ' || {_i(seed, salt + 'k', 0, 99, 'i')} || '}}' AS props
        FROM range({n}) t(i)"""


def embeddings_sql(seed, n, dim=64):
    g = (f"sqrt(-2 * ln(1 - {_u(seed, 'e1', 'i', 'j')})) * "
         f"cos(2 * pi() * {_u(seed, 'e2', 'i', 'j')})")
    return f"""SELECT vec_id, list_transform(v, x -> (x / nrm)::FLOAT) AS embedding,
               label FROM (
        SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
               label FROM (
          SELECT i::BIGINT AS vec_id,
                 list_transform(range({dim}), j -> {g}) AS v,
                 {_i(seed, 'el', 0, 9, 'i')}::INTEGER AS label
          FROM range({n}) t(i)))
        ORDER BY vec_id"""


# Ingest workload shape: seed corpus, then per cycle one fold batch
# (re-sent ids, near-duplicates, fresh documents), one verdict probe
# (exact copies, fresh documents) and one hourly events window that
# overlaps the previous window by half.
SEED_DOCS = 200
RESENT, NEAR, FRESH = 8, 8, 24
COPIES_SEED, COPIES_FOLD, PROBE_FRESH = 4, 2, 10
WINDOW_HOURS, WINDOW_STEP, EVENTS_PER_HOUR = 24, 12, 10
# With graft's token-bigram shingles and Jaccard threshold 0.2, random
# documents over the 31-word reference vocabulary are near-duplicates
# of one another; a 5000-word vocabulary makes fresh documents
# distinct, so each verdict has one expected answer.
INGEST_VOCAB = 5000


def ingest_inputs(con, out, seed, cycles):
    """Write the ingest workload's inputs under `out` and return the
    expected outcome of every operation."""
    os.makedirs(out, exist_ok=True)
    rnd = random.Random(seed)
    docs = os.path.join(out, "seed_docs.parquet")
    _copy(con, documents_sql(seed, "seed", SEED_DOCS, lo=30, vocab=INGEST_VOCAB), docs)
    con.sql(f"CREATE OR REPLACE TEMP TABLE seed_docs AS "
            f"SELECT doc_id, text FROM '{docs}'")
    assert RESENT * cycles <= SEED_DOCS
    resent = rnd.sample(range(SEED_DOCS), SEED_DOCS)
    exp = {"fold": [], "probe": [], "cycle": []}
    # the window landed before the timed phase; window 0 overlaps it
    prev = os.path.join(out, "window_prev")
    os.makedirs(prev, exist_ok=True)
    _copy(con, events_sql(seed, "winprev", WINDOW_HOURS * EVENTS_PER_HOUR,
                          WINDOW_HOURS, id_offset=10 ** 9),
          os.path.join(prev, "events.parquet"))
    landed = {h for (h,) in con.sql(
        f"SELECT DISTINCT date_trunc('hour', ts) FROM "
        f"'{os.path.join(prev, 'events.parquet')}'").fetchall()}
    runs_ok = 1
    for c in range(cycles):
        base = 100000 + c * 1000
        res_ids = resent[c * RESENT:(c + 1) * RESENT]
        near_src = rnd.sample(range(SEED_DOCS), NEAR)
        near_pos = [rnd.randrange(30) for _ in range(NEAR)]
        fresh = documents_sql(seed, f"fold{c}", FRESH, id_offset=base + NEAR, lo=30,
                              vocab=INGEST_VOCAB)
        near = " UNION ALL ".join(
            f"""SELECT {base + k}::BIGINT AS doc_id, array_to_string(list_concat(list_concat(
                  w[1:{p}], [CASE WHEN w[{p + 1}] = 'w0' THEN 'w1'
                                  ELSE 'w0' END]), w[{p + 2}:]), ' ') AS text
                FROM (SELECT string_split(text, ' ') AS w FROM seed_docs
                      WHERE doc_id = {src})"""
            for k, (src, p) in enumerate(zip(near_src, near_pos)))
        fold = os.path.join(out, f"fold_{c}.parquet")
        _copy(con, f"""SELECT doc_id, text FROM seed_docs
                       WHERE doc_id IN ({', '.join(map(str, res_ids))})
                       UNION ALL {near}
                       UNION ALL SELECT doc_id, text FROM ({fresh})
                       ORDER BY doc_id""", fold)
        exp["fold"].append(
            [[i, "exact_dup", i] for i in res_ids] +
            [[base + k, "near_dup", src] for k, src in enumerate(near_src)] +
            [[base + NEAR + k, "new", -1] for k in range(FRESH)])
        pbase = 200000 + c * 1000
        copy_seed = rnd.sample(range(SEED_DOCS), COPIES_SEED)
        copy_fold = [base + NEAR + k for k in rnd.sample(range(FRESH), COPIES_FOLD)]
        srcs = copy_seed + copy_fold
        copies = " UNION ALL ".join(
            f"SELECT {pbase + k}::BIGINT AS doc_id, text FROM "
            f"{'seed_docs' if k < COPIES_SEED else repr(fold)} WHERE doc_id = {s}"
            for k, s in enumerate(srcs))
        pfresh = documents_sql(seed, f"probe{c}", PROBE_FRESH,
                               id_offset=pbase + len(srcs), lo=30,
                               vocab=INGEST_VOCAB)
        _copy(con, f"""{copies} UNION ALL SELECT doc_id, text FROM ({pfresh})
                       ORDER BY doc_id""", os.path.join(out, f"probe_{c}.parquet"))
        exp["probe"].append(
            [[pbase + k, "exact_dup", s] for k, s in enumerate(srcs)] +
            [[pbase + len(srcs) + k, "new", -1] for k in range(PROBE_FRESH)])
        # windows 0, 3, 6, ... carry rows that fail validation
        wdir = os.path.join(out, f"window_{c}")
        os.makedirs(wdir, exist_ok=True)
        ev = events_sql(seed, f"win{c}", WINDOW_HOURS * EVENTS_PER_HOUR,
                        WINDOW_HOURS, hour0=(c + 1) * WINDOW_STEP,
                        id_offset=c * 100000)
        if c % 3 == 0:
            ev = f"""SELECT event_id, ts, user_id,
                       CASE WHEN event_id % 50 = 7 THEN 'bogus' ELSE event_type END
                         AS event_type,
                       CASE WHEN event_id % 50 = 19 THEN -1.0 ELSE value END AS value,
                       props FROM ({ev})"""
        wfile = os.path.join(wdir, "events.parquet")
        _copy(con, ev, wfile)
        hours, invalid = con.sql(f"""
            SELECT list(DISTINCT date_trunc('hour', ts)) FILTER (WHERE valid),
                   count(*) FILTER (WHERE NOT valid)
            FROM (SELECT ts, value IS NOT NULL AND value BETWEEN 0 AND 1000
                    AND event_type IN ('view','click','purchase','signup','error')
                    AND ts IS NOT NULL AS valid FROM '{wfile}')""").fetchone()
        new = set(hours) - landed
        landed |= new
        if new and invalid == 0:
            runs_ok += 1
        exp["cycle"].append({"inserted": len(new), "offered": len(hours),
                             "report_runs": c + 2, "report_success": runs_ok,
                             "user_bytes": os.path.getsize(wfile)})
    exp["user_bytes"] = {
        "seed": os.path.getsize(docs),
        "prev": os.path.getsize(os.path.join(prev, "events.parquet")),
        "fold": [os.path.getsize(os.path.join(out, f"fold_{c}.parquet"))
                 for c in range(cycles)]}
    with open(os.path.join(out, "cycles.txt"), "w") as fh:
        fh.write(str(cycles))
    return exp
