"""Output checker for the graft benchmark.

Recomputes each workload's expected results with DuckDB over the generated
inputs and compares them with what the program wrote under
`<run>/out/check/`. Returns the checks that failed and why.
"""

import os

import duckdb

ENRICH = """
    SELECT event_id,
      CAST(make_timestamp(ts // 1000) AS DATE) AS event_date,
      CAST(hour(make_timestamp(ts // 1000)) AS INTEGER) AS event_hour,
      concat_ws('-',
        substr(md5(CAST(event_id AS VARCHAR)), 1, 8),
        substr(md5(CAST(event_id AS VARCHAR)), 9, 4),
        substr(md5(CAST(event_id AS VARCHAR)), 13, 4),
        substr(md5(CAST(event_id AS VARCHAR)), 17, 4),
        substr(md5(CAST(event_id AS VARCHAR)), 21, 12)) AS ingest_id,
      event_type, value
    FROM read_parquet({src})"""


class Checker:
    def __init__(self, run_out, params):
        self.o, self.p = run_out, params
        self.db = duckdb.connect()
        self.problems = []

    def got(self, name):
        return f"read_parquet('{self.o}/check/{name}/*.parquet')"

    def same_rows(self, name, expected_sql, cols):
        """Multiset equality of the program's output and the expected rows."""
        c = ", ".join(cols)
        q = f"""
          WITH g AS (SELECT {c} FROM {self.got(name)}), e AS ({expected_sql})
          SELECT (SELECT count(*) FROM g), (SELECT count(*) FROM e),
                 (SELECT count(*) FROM (SELECT {c} FROM g EXCEPT ALL SELECT {c} FROM e)),
                 (SELECT count(*) FROM (SELECT {c} FROM e EXCEPT ALL SELECT {c} FROM g))"""
        n_got, n_exp, extra, missing = self.db.sql(q).fetchone()
        if extra or missing or n_got != n_exp:
            self.problems.append(f"{name}: {n_got} rows vs {n_exp} expected, "
                                 f"{extra} unexpected, {missing} missing")
            return False
        return True

    # ---- ingest_append: exactly one enriched copy per landed row
    def ingest_append(self, name):
        cols = ["event_id", "event_date", "event_hour", "ingest_id", "event_type", "value"]
        if name == "append_open":  # only the files the generator landed
            with open(os.path.join(self.o, "check", "append_open_files.txt")) as f:
                src = "[" + ", ".join(f"'{x}'" for x in f.read().split()) + "]"
        else:
            src = f"'{self.p['append.parquet_dir']}/*.parquet'"
        return self.same_rows(name, ENRICH.format(src=src), cols)

    # ---- ingest_merge: last writer wins, deletes applied
    def ingest_merge(self, name):
        expected = f"""
          WITH ch AS (SELECT * FROM read_parquet('{self.p["merge.changes_dir"]}/*.parquet')),
          last AS (SELECT * FROM ch QUALIFY row_number() OVER (PARTITION BY key ORDER BY seq DESC) = 1)
          SELECT key, region, amount, note, seq FROM read_parquet('{self.p["merge.base"]}')
            WHERE key NOT IN (SELECT key FROM last)
          UNION ALL
          SELECT key, region, amount, note, seq FROM last WHERE op <> 'D'"""
        return self.same_rows(name, expected, ["key", "region", "amount", "note", "seq"])

    def check(self, name):
        if name.startswith("append_"):
            return self.ingest_append(name)
        if name.startswith("merge_"):
            return self.ingest_merge(name)
        raise ValueError(f"no check for {name}")


def run_checks(run_in, run_out, checks):
    """Returns (failed checks as [(name, ops)], problems)."""
    params = {}
    with open(os.path.join(run_in, "params.properties")) as f:
        for line in f:
            k, _, v = line.rstrip("\n").partition("=")
            params[k] = v
    c = Checker(run_out, params)
    failed = []
    for ch in checks:
        try:
            ok = c.check(ch["name"])
        except Exception as e:  # a missing or unreadable output is a failed check
            c.problems.append(f"{ch['name']}: {type(e).__name__}: {e}")
            ok = False
        if not ok:
            failed.append((ch["name"], ch["ops"]))
    return failed, c.problems
