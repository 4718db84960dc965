"""Output checks in DuckDB, independent of the code under test.

Each check reads what the benchmark JVM wrote under the run's check
directory (and the generated inputs) and returns a list of failures.
"""
import json
from pathlib import Path

import duckdb

K1, B = 1.2, 0.75


def connect():
    # json and parquet are built in; never fetch an extension
    return duckdb.connect(config={"autoinstall_known_extensions": False,
                                  "autoload_known_extensions": False})


def bm25(check_dir):
    """Each index answer equals a brute-force BM25: N, average length and
    df over the case's `stats` texts (one row per indexed text, so an id
    can count twice), scores over its `live` texts, rounded to 6 places,
    ties by id."""
    failures = []
    cases = json.loads(Path(check_dir, "bm25_cases.json").read_text())
    for case in cases:
        con = connect()
        for part in ("stats", "live"):
            con.execute(f"""
                CREATE TABLE {part} AS
                SELECT row, doc_id, unnest(string_split_regex(
                           trim(lower(text)), '\\s+')) AS term,
                       len(string_split_regex(trim(text), '\\s+')) AS dl
                FROM (SELECT row_number() OVER () AS row, * FROM read_parquet(
                  '{check_dir}/bm25_{case["name"]}_{part}.parquet/*.parquet'))
                """)
        n, avg_dl = con.execute("""
            SELECT count(*), sum(dl) / count(*)
            FROM (SELECT DISTINCT row, dl FROM stats)""").fetchone()
        for a in case["answers"]:
            failures += bm25_answer(con, n, avg_dl, case["k"], a,
                                    case["name"])
    return failures


def bm25_answer(con, n, avg_dl, k, a, name):
    terms = sorted(set(a["query"].lower().split()))
    rows = con.execute(f"""
        WITH q AS (SELECT unnest(?::VARCHAR[]) AS term),
        df AS (SELECT term, count(DISTINCT row) AS df FROM stats
               WHERE term IN (SELECT term FROM q) GROUP BY term),
        tf AS (SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
               FROM live WHERE term IN (SELECT term FROM q)
               GROUP BY doc_id, term)
        SELECT doc_id, round(sum(
            ln(1 + ({n} - df + 0.5) / (df + 0.5)) * tf * ({K1} + 1)
            / (tf + {K1} * (1 - {B} + {B} * dl / {avg_dl}))), 6) AS score
        FROM tf JOIN df USING (term) GROUP BY doc_id
        ORDER BY score DESC, doc_id""", [terms]).fetchall()
    want = dict(rows)
    got = list(zip(a["ids"], a["scores"]))
    where = f"bm25 {name} '{a['query']}'"
    if len(got) != min(k, len(rows)):
        return [f"{where}: {len(got)} results, brute force has "
                f"{len(rows)} matches"]
    for doc, score in got:
        if doc not in want or abs(want[doc] - score) > 1e-5:
            return [f"{where}: doc {doc} scored {score}, brute force "
                    f"{want.get(doc)}"]
    if got and rows[len(got) - 1][1] - got[-1][1] > 1e-5:
        return [f"{where}: top-{k} misses a doc scoring "
                f"{rows[len(got) - 1][1]}"]
    return []


def ehr(check_dir, input_dir):
    """Measurement rows are conserved per split, vocabulary indices are
    dense, and normalized train values have per-key mean 0 and sd 1."""
    con = connect()
    con.execute(f"""
        CREATE VIEW meas AS
        SELECT * FROM read_parquet('{check_dir}/ehr_meas.parquet/*.parquet');
        CREATE VIEW splits AS
        SELECT * FROM read_parquet('{check_dir}/ehr_splits.parquet/*.parquet');
        CREATE VIEW raw AS
        SELECT user_id AS subject_id,
               1 + len(json_keys(props)) AS n_meas
        FROM read_parquet('{input_dir}/events.parquet/*.parquet')""")
    failures = []
    for split, want, got in con.execute("""
            WITH w AS (SELECT split, sum(n_meas) AS n FROM raw
                       JOIN splits USING (subject_id) GROUP BY split),
                 g AS (SELECT split, count(*) AS n FROM meas GROUP BY split)
            SELECT split, w.n, g.n FROM w FULL JOIN g USING (split)
            ORDER BY split""").fetchall():
        if want != got:
            failures.append(f"ehr: split {split} has {got} measurement rows, "
                            f"input has {want}")
    for m, lo, hi, n in con.execute("""
            SELECT measurement, min(key_idx), max(key_idx),
                   count(DISTINCT key_idx)
            FROM meas WHERE split = 'train' GROUP BY measurement""").fetchall():
        if (lo, hi) != (1, n):
            failures.append(f"ehr: {m} train key_idx spans {lo}..{hi} "
                            f"over {n} values, not 1..{n}")
    for m, key, mean, sd in con.execute("""
            SELECT measurement, final_key, avg(value_norm),
                   stddev_pop(value_norm)
            FROM meas WHERE split = 'train' GROUP BY ALL""").fetchall():
        if abs(mean) > 1e-6 or abs(sd - 1) > 0.01:
            failures.append(f"ehr: train {m}/{key} normalized to mean "
                            f"{mean}, sd {sd}")
    return failures


def curation(check_dir, cosine=0.9):
    """No two semantic-dedup survivors assigned to the same centroid have
    cosine at or above the threshold."""
    con = connect()
    con.execute(f"""
        CREATE TABLE s AS SELECT doc_id, embedding::DOUBLE[] AS v
        FROM read_parquet('{check_dir}/cur_survivors.parquet/*.parquet');
        CREATE TABLE c AS SELECT centroid_id, c_vec::DOUBLE[] AS c
        FROM read_parquet('{check_dir}/cur_centroids.parquet/*.parquet');
        CREATE TABLE a AS
        SELECT doc_id, v, arg_max(centroid_id, list_cosine_similarity(v, c))
               AS cid
        FROM s, c GROUP BY doc_id, v""")
    n, ex = con.execute(f"""
        SELECT count(*), any_value(x.doc_id || '~' || y.doc_id)
        FROM a x JOIN a y ON x.cid = y.cid AND x.doc_id < y.doc_id
        WHERE list_cosine_similarity(x.v, y.v) >= {cosine} + 1e-6""").fetchone()
    return [] if n == 0 else [
        f"curation: {n} same-cluster survivor pairs at cosine >= {cosine}, "
        f"e.g. {ex}"]


def run(workload, check_dir, input_dir):
    if workload == "ehr_pipeline":
        return ehr(check_dir, input_dir)
    if workload == "corpus_index":
        return curation(check_dir) + bm25(check_dir)
    return []
