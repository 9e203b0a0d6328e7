"""Closed-form duckdb reference for the benchmark's search results.

Computed from the generated parquet text alone, the way the repo's gate
oracles are (``gate.ORACLE_ENGINE_BM25``): whitespace tokens, title and
body positions both starting at 0 with body positions winning for terms
in both sections, BM25 (k1=1.2, b=0.75, dl = title + body words) and the
reference TF-IDF (``(1 + ln tf) * ln(N / df)``, ascending).  A
multi-term AND query is a phrase: its terms must sit at the query's
relative positions in the doc.
"""

from __future__ import annotations

import math

K1 = 1.2
B = 0.75
REL_TOL = 1e-9
ABS_TOL = 1e-9


class Reference:
    def __init__(self, parquet_path: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(
            "CREATE TABLE docs AS SELECT url, text, tag FROM read_parquet(?)",
            [parquet_path])
        self.con.execute(r"""
            CREATE TABLE tok AS
            WITH s AS (
              SELECT url,
                     split_part(text, chr(10) || chr(10), 1) AS title,
                     substr(text, strpos(text, chr(10) || chr(10)) + 2) AS body
              FROM docs
            ), w AS (
              SELECT url, 0 AS sec,
                     list_filter(regexp_split_to_array(title, '\s+'), x -> x <> '') AS ws
              FROM s
              UNION ALL
              SELECT url, 1 AS sec,
                     list_filter(regexp_split_to_array(body, '\s+'), x -> x <> '') AS ws
              FROM s
            )
            SELECT url, sec, unnest(range(len(ws))) AS pos,
                   lower(rtrim(unnest(ws), '.,:"')) AS term
            FROM w
        """)
        self.con.execute("""
            CREATE TABLE m AS
            SELECT url, term, pos FROM tok WHERE sec = 1
            UNION ALL
            SELECT t.url, t.term, t.pos FROM tok t
            WHERE t.sec = 0 AND NOT EXISTS (
              SELECT 1 FROM tok b
              WHERE b.sec = 1 AND b.url = t.url AND b.term = t.term)
        """)
        self.con.execute(
            "CREATE TABLE dl AS SELECT url, count(*) AS dl FROM tok GROUP BY url")
        self.n, self.avgdl = self.con.execute(
            "SELECT (SELECT count(*) FROM docs), avg(dl) FROM dl").fetchone()

    def close(self) -> None:
        self.con.close()

    def search(self, word: str, tags=None, mode: str = "bm25",
               k=None, operator: str = "and") -> tuple:
        """(rows, n_matches): rows are (url, score) in the engine's order
        contract; for bounded BM25 only ranks <= k, ties included."""
        if word.startswith("unique_key:"):
            url = word[len("unique_key:"):]
            rows = self.con.execute(
                "SELECT url, 0.0 FROM docs WHERE url = ?", [url]).fetchall()
            return rows, len(rows)
        terms = [w.rstrip('.,:"').lower() for w in word.split()]
        qpos = {}
        for i, t in enumerate(terms):
            qpos.setdefault(t, i)
        uniq = list(qpos)
        params: list = list(uniq)
        ph = ",".join("?" * len(uniq))
        if mode == "bm25":
            term_score = (
                f"ln(1.0 + (n.n - df.df + 0.5) / (df.df + 0.5)) * ({K1} + 1.0) * tf.tf"
                f" / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / {self.avgdl!r}))")
        else:
            term_score = "(1.0 + ln(tf.tf)) * ln(n.n / df.df)"
        where = []
        if operator == "and":
            where.append(f"tf_n.cnt = {len(uniq)}")
            if len(uniq) > 1:
                first = uniq[0]
                for t in uniq[1:]:
                    where.append(
                        "tf.url IN (SELECT a.url FROM m a JOIN m b "
                        "ON a.url = b.url AND b.pos - a.pos = ? "
                        "WHERE a.term = ? AND b.term = ?)")
                    params += [qpos[t] - qpos[first], first, t]
        if tags:
            where.append(f"tf.url IN (SELECT url FROM docs WHERE tag IN "
                         f"({','.join('?' * len(tags))}))")
            params += list(tags)
        sql = f"""
            WITH tf0 AS (
              SELECT url, term, count(*) AS tf FROM m
              WHERE term IN ({ph}) GROUP BY url, term
            ), df AS (SELECT term, count(*) AS df FROM tf0 GROUP BY term),
            n AS (SELECT {self.n} AS n),
            tf_n AS (SELECT url, count(*) AS cnt FROM tf0 GROUP BY url)
            SELECT tf.url, sum({term_score}) AS score
            FROM tf0 AS tf JOIN df USING (term) JOIN dl USING (url)
                 JOIN tf_n USING (url), n
            {"WHERE " + " AND ".join(where) if where else ""}
            GROUP BY tf.url
        """
        rows = self.con.execute(sql, params).fetchall()
        n_match = len(rows)
        if mode == "bm25":
            rows.sort(key=lambda r: -r[1])
            if k is not None and len(rows) > k:
                kth = rows[k - 1][1]
                rows = [r for r in rows if r[1] >= kth - _tol(kth)]
        else:
            rows.sort(key=lambda r: r[1])
        return rows, n_match


def _tol(x: float) -> float:
    return ABS_TOL + REL_TOL * abs(x)


def close_enough(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)


def check_rows(got: list, ref: tuple, mode: str, k) -> str | None:
    """Compare engine rows ``[(url, score), ...]`` (in engine order) with
    a reference result; returns a mismatch description or None."""
    ref_rows, n_match = ref
    want = dict(ref_rows)
    expect_len = min(k, n_match) if (mode == "bm25" and k is not None) else n_match
    if len(got) != expect_len:
        return f"{len(got)} rows, expected {expect_len}"
    for url, score in got:
        if url not in want:
            return f"unexpected hit {url}"
        if not close_enough(score, want[url]):
            return f"score of {url}: {score!r} vs {want[url]!r}"
    scores = [s for _, s in got]
    if mode == "bm25":
        if any(a < b for a, b in zip(scores, scores[1:])):
            return "scores not in descending order"
        top = sorted(want.values(), reverse=True)[:len(got)]
        if not all(close_enough(a, b) for a, b in zip(scores, top)):
            return "top-k scores differ from the reference top-k"
    elif any(a > b for a, b in zip(scores, scores[1:])):
        return "scores not in ascending order"
    return None
