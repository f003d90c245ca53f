"""DuckDB answers for the benchmark's correctness checks.

The expected master table follows the reference Glue job's semantics
(the same ones `YelpQueries.masterSql` encodes for the catalog): review
JOIN user USING user_id JOIN business USING business_id, one row per
review_id, derived super_category / sentiment / state / date columns.
The keyword and state tables below are written out independently of the
engine, so a change to the engine's tables shows up as a wrong answer.
"""
import glob
import math
import os

import duckdb

# First match wins, in this order (reference glue_job.py super-category dict).
SUPER_CATEGORIES = [
    ("Restaurants", ["Restaurants", "Food"]),
    ("Shopping", ["Shopping", "Fashion", "Books", "Department Stores"]),
    ("Beauty & Spas", ["Hair Salons", "Beauty & Spas", "Nail Salons",
                       "Massage"]),
    ("Health & Medical", ["Dentists", "Health & Medical", "Chiropractors"]),
    ("Nightlife", ["Bars", "Nightlife", "Clubs", "Pubs"]),
    ("Automotive", ["Auto Repair", "Automotive", "Car Dealers"]),
    ("Fitness", ["Gyms", "Fitness & Instruction", "Yoga", "Trainers"]),
    ("Home Services", ["Home Services", "Plumbing", "Electricians"]),
    ("Education", ["Education", "Tutoring Centers"]),
    ("Pets", ["Pet Services", "Veterinarians", "Pet Stores"]),
]
STATE_NAMES = {
    "DE": "Delaware", "MO": "Missouri", "VI": "Virgin Islands",
    "IL": "Illinois", "SD": "South Dakota", "UT": "Utah", "HI": "Hawaii",
    "CA": "California", "NC": "North Carolina", "AZ": "Arizona",
    "LA": "Louisiana", "NJ": "New Jersey", "MT": "Montana",
    "FL": "Florida", "MI": "Michigan", "NV": "Nevada", "ID": "Idaho",
    "VT": "Vermont", "WA": "Washington", "IN": "Indiana",
    "TN": "Tennessee", "TX": "Texas", "CO": "Colorado",
    "PA": "Pennsylvania", "AB": "Alberta", "MA": "Massachusetts",
    "Unknown": "Mississippi",
}

JSON_COLUMNS = {
    "business": "{business_id: 'VARCHAR', name: 'VARCHAR', city: 'VARCHAR', "
                "state: 'VARCHAR', categories: 'VARCHAR'}",
    "review": "{review_id: 'VARCHAR', user_id: 'VARCHAR', "
              "business_id: 'VARCHAR', stars: 'DOUBLE', text: 'VARCHAR', "
              "date: 'VARCHAR'}",
    "user": "{user_id: 'VARCHAR', name: 'VARCHAR', review_count: 'BIGINT', "
            "useful: 'BIGINT', funny: 'BIGINT', cool: 'BIGINT', "
            "fans: 'BIGINT'}",
}

# Master columns with the type the engine writes and the canonical type
# both sides are cast to before hashing.
MASTER_TYPES = [
    ("business_id", "VARCHAR"), ("user_id", "VARCHAR"), ("name", "VARCHAR"),
    ("cool", "BIGINT"), ("review_id", "VARCHAR"), ("funny", "BIGINT"),
    ("stars", "DOUBLE"), ("useful", "BIGINT"), ("city", "VARCHAR"),
    ("review_count", "BIGINT"), ("fans", "BIGINT"), ("b_name", "VARCHAR"),
    ("state", "VARCHAR"), ("super_category", "VARCHAR"),
    ("sentiment", "VARCHAR"), ("only_date", "DATE"), ("year", "BIGINT"),
    ("month", "INTEGER"),
]


def _q(s):
    return "'" + s.replace("'", "''") + "'"


def super_category_sql(c):
    whens = " ".join(f"WHEN contains({c}, {_q(kw)}) THEN {_q(cat)}"
                     for cat, kws in SUPER_CATEGORIES for kw in kws)
    return f"CASE WHEN {c} IS NULL THEN 'Other' {whens} ELSE 'Other' END"


def state_sql(c):
    whens = " ".join(f"WHEN {c} = {_q(k)} THEN {_q(v)}"
                     for k, v in STATE_NAMES.items())
    return f"CASE {whens} ELSE {c} END"


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t, cols in JSON_COLUMNS.items():
        con.execute(
            f"CREATE VIEW j_{t} AS SELECT * FROM read_json("
            f"{_q(os.path.join(data_dir, t + '.json'))}, "
            f"format='newline_delimited', columns={cols})")
    con.execute(f"""
        CREATE TABLE master AS
        SELECT r.business_id, r.user_id, u.name, u.cool, r.review_id,
               u.funny, r.stars, u.useful, b.city, u.review_count, u.fans,
               b.name AS b_name, {state_sql('b.state')} AS state,
               {super_category_sql('b.categories')} AS super_category,
               CASE WHEN r.stars <= 2 THEN 'negative'
                    WHEN r.stars = 3 THEN 'neutral'
                    ELSE 'positive' END AS sentiment,
               CAST(CAST(r.date AS TIMESTAMP) AS DATE) AS only_date,
               year(CAST(r.date AS TIMESTAMP)) AS year,
               month(CAST(r.date AS TIMESTAMP)) AS month,
               r.text
        FROM j_review r
        JOIN j_user u USING (user_id)
        JOIN j_business b USING (business_id)
        QUALIFY row_number() OVER (PARTITION BY r.review_id) = 1""")
    return con


def _fingerprint_sql(source):
    cols = ", ".join(f"CAST({c} AS {'BIGINT' if t == 'INTEGER' else t})"
                     for c, t in MASTER_TYPES)
    return (f"SELECT count(*), CAST(sum(hash({cols})) AS VARCHAR) "
            f"FROM {source}")


def master_fingerprint(con):
    n, h = con.execute(_fingerprint_sql("master")).fetchone()
    return {"rows": n, "hash": h}


def check_master_output(path, expected):
    """Compare one written master directory with the expected
    fingerprint. Returns (ok, detail)."""
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"),
                             recursive=True))
    if not files:
        return False, "no parquet files written"
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    src = (f"read_parquet({_q(os.path.join(path, '**', '*.parquet'))}, "
           f"hive_partitioning=true)")
    # year is the partition column; every other column keeps its type
    types = {c: str(t).upper() for c, t, *_ in
             con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()}
    want = {c: t for c, t in MASTER_TYPES if c != "year"}
    got = {c: t for c, t in types.items() if c != "year"}
    if got != want or "year" not in types:
        return False, f"columns/types {sorted(types.items())}"
    n, h = con.execute(_fingerprint_sql(src)).fetchone()
    if n != expected["rows"] or h != expected["hash"]:
        return False, (f"rows {n} hash {h} vs expected "
                       f"{expected['rows']} {expected['hash']}")
    return True, f"{n} rows"


# Dashboard Q1-Q10 (graft.yelp.Analytics) over the master.
ANALYTICS_SQL = {
    "kpiTotals": """
        SELECT count(DISTINCT business_id) AS n_businesses,
               count(review_id) AS n_reviews,
               count(DISTINCT user_id) AS n_users FROM master""",
    "avgRating": "SELECT round(avg(stars), 4) AS avg_rating FROM master",
    "businessesByStars": """
        SELECT stars, count(DISTINCT business_id) AS n_businesses
        FROM master GROUP BY stars""",
    "yearlyTrends": """
        SELECT CAST(year AS INTEGER) AS year, count(review_id) AS n_reviews,
               count(DISTINCT business_id) AS n_businesses
        FROM master GROUP BY year""",
    "dayWiseByCategory": """
        SELECT dayname(only_date) AS dow, super_category,
               count(*) AS n_reviews
        FROM master GROUP BY ALL""",
    "engagementByCategory": """
        SELECT super_category,
               round(avg(useful + funny + cool), 2) AS engagement
        FROM master GROUP BY super_category""",
    "topStates": """
        SELECT state, count(DISTINCT business_id) AS n_businesses
        FROM master GROUP BY state
        ORDER BY n_businesses DESC, state ASC LIMIT 10""",
    "mostActive": """
        (SELECT 'city' AS dimension, city AS val, count(*) AS cnt
         FROM master GROUP BY city ORDER BY cnt DESC, val LIMIT 1)
        UNION ALL
        (SELECT 'super_category', super_category, count(*) AS cnt
         FROM master GROUP BY super_category ORDER BY cnt DESC, 2 LIMIT 1)
        UNION ALL
        (SELECT 'dow', dayname(only_date), count(*) AS cnt
         FROM master GROUP BY 2 ORDER BY cnt DESC, 2 LIMIT 1)""",
    "topBusinessesPerCity": """
        SELECT city, b_name, avg_stars, n_reviews, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY city
            ORDER BY avg_stars DESC, n_reviews DESC, business_id) AS rank
          FROM (SELECT city, business_id, b_name,
                       round(avg(stars), 4) AS avg_stars,
                       count(*) AS n_reviews
                FROM master GROUP BY city, business_id, b_name))
        WHERE rank <= 3""",
    "reviewLengthByMonth": """
        SELECT CAST(year AS INTEGER) AS year, month,
               round(avg(length(text)), 2) AS avg_len,
               CAST(max(length(text)) AS BIGINT) AS max_len,
               count(*) AS n_reviews
        FROM master GROUP BY year, month""",
}

# Rounded aggregates may differ by one unit in the last kept digit
# between engines (half-up on the decimal expansion vs on the double).
TOLERANCE = {"avg_rating": 1.01e-4, "avg_stars": 1.01e-4,
             "engagement": 1.01e-2, "avg_len": 1.01e-2}


def analytics_answers(con):
    out = {}
    for name, sql in ANALYTICS_SQL.items():
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        out[name] = {"columns": cols,
                     "rows": [list(r) for r in cur.fetchall()]}
    return out


def kind(v):
    """The equivalence class a dtype-strict compare distinguishes."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "b"
    if isinstance(v, int):
        return "i"
    if isinstance(v, float):
        return "f"
    return "s"


def _canon(result):
    """Columns sorted by name; rows as typed tuples, sorted."""
    order = sorted(range(len(result["columns"])),
                   key=lambda i: result["columns"][i])
    cols = [result["columns"][i] for i in order]
    rows = []
    for r in result["rows"]:
        vals = [r[i] for i in order]
        rows.append(tuple((kind(v), v) for v in vals))

    def sort_key(row):
        return tuple((k, round(v, 1) if k == "f" else
                      ("" if v is None else v)) for k, v in row)
    return cols, sorted(rows, key=sort_key)


def same_result(got, want):
    """Dtype-strict compare of two results; returns (ok, detail)."""
    gc, gr = _canon(got)
    wc, wr = _canon(want)
    if gc != wc:
        return False, f"columns {gc} vs {wc}"
    if len(gr) != len(wr):
        return False, f"rows {len(gr)} vs {len(wr)}"
    for g, w in zip(gr, wr):
        for col, (gk, gv), (wk, wv) in zip(gc, g, w):
            if gk != wk:
                return False, f"{col}: kind {gk} vs {wk}"
            if gk == "f":
                tol = TOLERANCE.get(col, 1e-9 * max(1.0, abs(wv)))
                if not (math.isclose(gv, wv, rel_tol=0, abs_tol=tol)):
                    return False, f"{col}: {gv} vs {wv}"
            elif gv != wv:
                return False, f"{col}: {gv!r} vs {wv!r}"
    return True, f"{len(gr)} rows"
