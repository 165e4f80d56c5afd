"""Independent expected answers for every benchmark job, computed with DuckDB
straight from the generated parquet files. Nothing here imports the
validation engine, so a wrong answer from the engine cannot also be a wrong
expectation.

Each ``check_*`` function returns a list of mismatch descriptions; an empty
list means the job's output is correct.
"""

from __future__ import annotations

import json
import math
import os

import duckdb

PK = ("conv_id", "turn_idx")
COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")
DAY_SQL = (
    "strftime(make_timestamp((epoch_us(ts) // 86400000000) * 86400000000),"
    " '%Y-%m-%d')"
)
EPS = 1e-6
#: tolerance for floating statistics (KS, PSI, pass fractions)
TOL = 1e-9


def _glob(path: str) -> str:
    return os.path.join(path, "*.parquet").replace("'", "''")


def _missing(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def _close(a, b, tol: float = TOL) -> bool:
    if _missing(a) or _missing(b):
        return _missing(a) and _missing(b)
    return math.isclose(float(a), float(b), rel_tol=tol, abs_tol=tol)


class Oracle:
    """Expected answers over one input set (table name -> parquet dir)."""

    def __init__(self, paths: dict[str, str]):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for name, path in paths.items():
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{_glob(path)}')"
            )
        self.n_turns = self.scalar("SELECT count(*) FROM source")

    def scalar(self, sql: str):
        return self.con.execute(sql).fetchone()[0]

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    # -- row validation ----------------------------------------------------

    def _diff_sql(self, src: str, tgt: str) -> str:
        differs = " OR ".join(
            f"s.{c} IS DISTINCT FROM t.{c}" for c in COLUMNS if c not in PK
        )
        return (
            "SELECT coalesce(s.conv_id, t.conv_id) AS conv_id,"
            " coalesce(s.turn_idx, t.turn_idx) AS turn_idx,"
            f" (s.conv_id IS NULL OR t.conv_id IS NULL OR {differs}) AS bad"
            f" FROM {src} s FULL OUTER JOIN {tgt} t"
            " ON s.conv_id = t.conv_id AND s.turn_idx = t.turn_idx"
        )

    def row_diff(self, src: str, tgt: str):
        """(violating PK set, count of identical rows)."""
        rows = self.rows(self._diff_sql(src, tgt))
        return {(c, int(i)) for c, i, b in rows if b}, sum(not b for _, _, b in rows)

    # -- aggregate answers (checks workload) -------------------------------

    def column_aggs(self, table: str, group: str) -> dict:
        """(group, validation name) -> value for the ``--count '*' --sum
        --min --max turn_idx`` flags of the grouped column job."""
        sel = ["count(*) AS \"count\""] + [
            f'count({c}) AS "count__{c}"' for c in COLUMNS
        ]
        sel += [
            f'{agg}(turn_idx) AS "{agg}__turn_idx"' for agg in ("sum", "min", "max")
        ]
        cur = self.con.execute(
            f"SELECT {group} AS g, {', '.join(sel)} FROM {table} GROUP BY 1"
        )
        names = [d[0] for d in cur.description]
        out = {}
        for row in cur.fetchall():
            rec = dict(zip(names, row))
            g = rec.pop("g")
            for k, v in rec.items():
                out[(g, k)] = v
        return out

    def expectation_fractions(self, table: str, rules: list[dict]) -> dict:
        out = {}
        for r in rules:
            if r["kind"] == "not_null":
                cond = f"{r['column']} IS NOT NULL"
            elif r["kind"] == "between":
                cond = (
                    f"{r['column']} IS NOT NULL AND {r['column']} >= {r['lo']}"
                    f" AND {r['column']} <= {r['hi']}"
                )
            elif r["kind"] == "isin":
                vals = ", ".join("'" + v + "'" for v in r["values"])
                cond = f"coalesce({r['column']} IN ({vals}), FALSE)"
            elif r["kind"] == "matches_regex":
                cond = (
                    f"{r['column']} IS NOT NULL AND"
                    f" regexp_matches({r['column']}, '{r['pattern']}')"
                )
            elif r["kind"] == "custom_sql":
                cond = f"coalesce({r['expr']}, FALSE)"
            else:
                raise ValueError(r["kind"])
            frac = self.scalar(
                f"SELECT avg(CASE WHEN {cond} THEN 1.0 ELSE 0.0 END) FROM {table}"
            )
            out[r["name"]] = frac
        return out

    def uniqueness_by_bucket(self, table: str) -> dict:
        return {
            b: (n, d)
            for b, n, d in self.rows(
                "SELECT b, count(*), sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) FROM"
                " (SELECT substr(conv_id, 1, 5) AS b, conv_id, turn_idx, count(*) c"
                f" FROM {table} GROUP BY ALL) GROUP BY b"
            )
        }

    def orphans(self, fact: str, dim: str) -> set[tuple]:
        return {
            (c, int(i))
            for c, i in self.rows(
                f"SELECT conv_id, turn_idx FROM {fact} WHERE conv_id NOT IN"
                f" (SELECT conv_id FROM {dim})"
            )
        }

    def ks(self, value: str, group: str) -> dict:
        """Two-sample KS of ``value`` between source and target per group:
        group -> (ks, n_source, n_target)."""
        sql = f"""
        WITH s AS (SELECT {group} AS g, {value} AS v, count(*) AS n FROM source GROUP BY 1, 2),
             t AS (SELECT {group} AS g, {value} AS v, count(*) AS n FROM target GROUP BY 1, 2),
             j AS (SELECT coalesce(s.g, t.g) AS g, coalesce(s.v, t.v) AS v,
                          coalesce(s.n, 0) AS ns, coalesce(t.n, 0) AS nt
                   FROM s FULL OUTER JOIN t ON s.g IS NOT DISTINCT FROM t.g AND s.v = t.v),
             c AS (SELECT g,
                     sum(ns) OVER (PARTITION BY g ORDER BY v) AS cs,
                     sum(nt) OVER (PARTITION BY g ORDER BY v) AS ct,
                     sum(ns) OVER (PARTITION BY g) AS ts_, sum(nt) OVER (PARTITION BY g) AS tt
                   FROM j)
        SELECT g, max(abs(cs / ts_ - ct / tt)), max(ts_), max(tt) FROM c GROUP BY g
        """
        return {r[0]: (r[1], int(r[2]), int(r[3])) for r in self.rows(sql)}

    def psi(self, category: str, group: str) -> dict:
        """Population stability index of ``category`` per group (proportions
        floored at ``EPS``): group -> psi."""
        sql = f"""
        WITH s AS (SELECT {group} AS g, {category} AS v, count(*) AS n FROM source GROUP BY 1, 2),
             t AS (SELECT {group} AS g, {category} AS v, count(*) AS n FROM target GROUP BY 1, 2),
             j AS (SELECT coalesce(s.g, t.g) AS g, coalesce(s.n, 0) AS ns, coalesce(t.n, 0) AS nt
                   FROM s FULL OUTER JOIN t ON s.g IS NOT DISTINCT FROM t.g
                   AND s.v IS NOT DISTINCT FROM t.v),
             p AS (SELECT g, greatest(ns / sum(ns) OVER (PARTITION BY g), {EPS}) AS p,
                          greatest(nt / sum(nt) OVER (PARTITION BY g), {EPS}) AS q FROM j)
        SELECT g, sum((p - q) * ln(p / q)) FROM p GROUP BY g
        """
        return {r[0]: r[1] for r in self.rows(sql)}


# -- checks over program outputs --------------------------------------------


def read_row_report(con, out_dir: str):
    """(failing PK set, success rows, all rows) of a partitioned row report."""
    files = os.path.join(out_dir, "**", "*.parquet").replace("'", "''")
    rows = con.execute(
        "SELECT validation_status, json_extract_string(group_by_columns, '$.conv_id'),"
        " json_extract_string(group_by_columns, '$.turn_idx')"
        f" FROM read_parquet('{files}', hive_partitioning = true)"
    ).fetchall()
    fail = {(c, int(i)) for s, c, i in rows if s == "fail"}
    good = sum(1 for s, _, _ in rows if s == "success")
    return fail, good, len(rows)


def check_row_report(con, out_dir: str, bad: set, good: int, facts: dict) -> list[str]:
    """Compare a written row report with the expected violations; records
    the report's row count in ``facts['report_rows']``."""
    if not os.path.isdir(out_dir):
        return [f"row report {out_dir} was not written"]
    fail, n_good, facts["report_rows"] = read_row_report(con, out_dir)
    errs = []
    if fail != bad:
        errs.append(
            f"failing PKs differ: {len(fail - bad)} unexpected, "
            f"{len(bad - fail)} missing (expected {len(bad)})"
        )
    if n_good != good:
        errs.append(f"success rows {n_good} != expected {good}")
    return errs


def check_column_report(records: list[dict], expect: dict, sides) -> list[str]:
    """``expect``: validation name or (group, name) -> (source, target)."""
    got = {}
    for r in records:
        name = r["validation_name"]
        if r.get("group_by_columns"):
            name = (next(iter(json.loads(r["group_by_columns"]).values())), name)
        got[name] = (r["source_agg_value"], r["target_agg_value"])
    errs = []
    if set(got) != set(expect):
        errs.append(
            f"validations differ: {len(set(got) ^ set(expect))} of {len(expect)}"
        )
    for k in set(got) & set(expect):
        for side, g, e in zip(sides, got[k], expect[k]):
            if not _close(g, e):
                errs.append(f"{k} {side}: got {g}, expected {e}")
    return errs[:10]


def check_close_map(got: dict, expect: dict, what: str, tol: float = TOL) -> list[str]:
    errs = []
    if set(got) != set(expect):
        return [f"{what}: keys differ ({len(set(got) ^ set(expect))})"]
    for k, e in expect.items():
        g = got[k]
        gs, es = (g, e) if isinstance(e, tuple) else ((g,), (e,))
        if len(gs) != len(es) or not all(_close(a, b, tol) for a, b in zip(gs, es)):
            errs.append(f"{what}[{k}]: got {g}, expected {e}")
    return errs[:10]
