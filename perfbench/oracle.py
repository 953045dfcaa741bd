"""Independent DuckDB oracle for the pages pipeline.

It shares no code with the engine package. It restates, in SQL over
the input parquet files:

- the pages grok pattern, expanded by hand into one RE2 expression;
- the refused rule: the grok does not match, or the key=value region
  in front of the JSON fragment holds no ``=``;
- the first-match routes, with NULL conditions falling through;
- the count/sum presence rule: a metric row is kept only where every
  grouping attribute is non-null (and, for sums, the source value).

Each check returns the number of mismatching groups; 0 means equal.
"""

from __future__ import annotations

import json
import os

import duckdb

_OCTET = r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)"
_IPV4 = rf"(?:{_OCTET}\.){{3}}{_OCTET}"
_NUMBER = r"(?:[+-]?(?:(?:[0-9]+(?:\.[0-9]+)?)|(?:\.[0-9]+)))"
_MONTH = r"\b(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]*\b"
_MONTHDAY = r"(?:(?:0[1-9])|(?:[12][0-9])|(?:3[01])|[1-9])"
_TIME = (r"(?:2[0123]|[01]?[0-9]):(?:[0-5][0-9])"
         r"(?::(?:(?:[0-5]?[0-9]|60)(?:[:.,][0-9]+)?))?")
_HTTPDATE = rf"{_MONTHDAY}/{_MONTH}/(?:\d\d){{1,2}}:{_TIME} [+-][0-9]{{4}}"

PAGES_RE2 = (
    rf"(?s)(?P<ip>{_IPV4}) - (?P<user>[a-zA-Z0-9._-]+) \[(?P<ts>{_HTTPDATE})\] "
    rf'"(?P<method>\b\w+\b) (?P<path>\S+) HTTP/(?P<httpversion>{_NUMBER})" '
    rf"(?P<status>{_NUMBER}) (?P<bytes>{_NUMBER}) (?P<rest>.*)"
)
_FIELDS = ["ip", "user", "ts", "method", "path", "httpversion", "status",
           "bytes", "rest"]

SINKS = ["sink_errors", "sink_en_get", "sink_api", "sink_default"]

_EXPECTED_SQL = f"""
CREATE OR REPLACE TABLE expected AS
WITH src AS (
  SELECT url, warc_ts, text, lang,
         CAST(regexp_extract(filename, 'part-(\\d+)', 1) AS INTEGER) AS inc
  FROM read_parquet($files, filename = true)),
cap AS (
  SELECT *, regexp_matches(text, $re) AS m,
         regexp_extract(text, $re, {_FIELDS!r}) AS c
  FROM src),
typed AS (
  SELECT url, warc_ts, lang, inc,
         CASE WHEN m THEN c.method END AS method,
         CASE WHEN m THEN c.path END AS path,
         CASE WHEN m THEN TRY_CAST(c.status AS BIGINT) END AS status,
         CASE WHEN m THEN TRY_CAST(c.bytes AS BIGINT) END AS bytes,
         CASE WHEN m THEN c.rest END AS rest
  FROM cap),
split AS (
  SELECT *, regexp_extract(rest, '^([^{{]*)', 1) AS kv,
         regexp_extract(rest, '(\\{{.*\\}})', 1) AS frag
  FROM typed)
SELECT url, warc_ts, inc, status, bytes,
       CASE WHEN json_valid(frag) THEN json_extract_string(frag, '$.svc') END AS svc,
       (rest IS NULL OR NOT contains(kv, '=')) AS refused,
       CASE WHEN status >= 500 THEN 'sink_errors'
            WHEN lang = 'en' AND method = 'GET' THEN 'sink_en_get'
            WHEN path LIKE '/api/%' THEN 'sink_api'
            ELSE 'sink_default' END AS sink
FROM split
"""

_METRICS_SQL = """
SELECT 'log.record.count' AS metric_name, sink, status, NULL::VARCHAR AS svc,
       count(*)::DOUBLE AS value
FROM expected WHERE status IS NOT NULL GROUP BY sink, status
UNION ALL
SELECT 'log.refused.count', sink, NULL, NULL, count(*)::DOUBLE
FROM expected WHERE refused GROUP BY sink
UNION ALL
SELECT 'page.bytes.sum', sink, NULL, svc, sum(bytes)::DOUBLE
FROM expected WHERE svc IS NOT NULL AND bytes IS NOT NULL GROUP BY sink, svc
"""


class Oracle:
    """Expected pipeline output for a set of input part files.

    ``inc`` is the part-file index, so streaming checks can ask for the
    rows of the first k increments only.
    """

    def __init__(self, part_files: list[str]):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(_EXPECTED_SQL, {"files": part_files, "re": PAGES_RE2})
        self.con.execute(f"CREATE TABLE expected_metrics AS {_METRICS_SQL}")

    def close(self) -> None:
        self.con.close()

    def counters(self, max_inc: int | None = None) -> dict:
        where = "" if max_inc is None else f"WHERE inc <= {int(max_inc)}"
        accepted, refused = self.con.execute(
            f"SELECT count(*), count(*) FILTER (refused) FROM expected {where}"
        ).fetchone()
        sent = dict(self.con.execute(
            f"SELECT sink, count(*) FROM expected {where} GROUP BY sink").fetchall())
        return {"accepted": accepted, "refused": refused,
                "sent": {s: sent.get(s, 0) for s in SINKS}}

    def row_mismatches(self, files: list[str], max_inc: int | None = None) -> int:
        """Groups of (url, warc_ts, sink) whose multiplicity differs
        between the written files and the oracle. Catches missing,
        extra, duplicated and mis-routed rows."""
        if not files:
            return self.counters(max_inc)["accepted"]
        where = "" if max_inc is None else f"WHERE inc <= {int(max_inc)}"
        return self.con.execute(f"""
            WITH got AS (
              SELECT url, warc_ts, sink, count(*) AS n
              FROM read_parquet($files, hive_partitioning = true) GROUP BY ALL),
            want AS (
              SELECT url, warc_ts, sink, count(*) AS n FROM expected {where}
              GROUP BY ALL)
            SELECT count(*) FROM got FULL OUTER JOIN want
              ON got.url = want.url AND got.warc_ts = want.warc_ts
             AND got.sink = want.sink
            WHERE got.n IS DISTINCT FROM want.n""", {"files": files}).fetchone()[0]

    def metric_mismatches(self, metrics_dir: str) -> int:
        files = sorted(os.path.join(metrics_dir, f) for f in os.listdir(metrics_dir)
                       if f.endswith(".parquet"))
        if not files:
            return self.con.execute("SELECT count(*) FROM expected_metrics").fetchone()[0]
        key = "concat_ws('|', metric_name, sink, coalesce(CAST(status AS VARCHAR), '-'), coalesce(svc, '-'))"
        return self.con.execute(f"""
            WITH got AS (SELECT {key} AS k, value FROM read_parquet($files)),
                 want AS (SELECT {key} AS k, value FROM expected_metrics)
            SELECT count(*) FROM got FULL OUTER JOIN want USING (k)
            WHERE got.value IS DISTINCT FROM want.value""",
            {"files": files}).fetchone()[0]

    def counters_mismatch(self, counters_json: str) -> bool:
        with open(counters_json) as f:
            got = json.load(f)
        return got != self.counters()

    def output_stats(self, files: list[str]) -> dict:
        """Rows per sink, share parsed without error and share whose
        host found its lookup row, over the written files."""
        rows = self.con.execute("""
            SELECT sink, count(*), count(*) FILTER (NOT _parse_error),
                   count(*) FILTER (site_category IS NOT NULL)
            FROM read_parquet($files, hive_partitioning = true, union_by_name = true)
            GROUP BY sink""", {"files": files}).fetchall()
        total = sum(r[1] for r in rows) or 1
        return {"sinks": {s: next((r[1] for r in rows if r[0] == s), 0) for s in SINKS},
                "ok_share": sum(r[2] for r in rows) / total,
                "host_hit_share": sum(r[3] for r in rows) / total}

    def rows_in(self, files: list[str]) -> int:
        if not files:
            return 0
        return self.con.execute("SELECT count(*) FROM read_parquet($files)",
                                {"files": files}).fetchone()[0]


def parquet_files(directory: str) -> list[str]:
    """Data files under ``directory``, skipping Spark's metadata dirs."""
    out = []
    for root, dirs, files in os.walk(directory):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out.extend(os.path.join(root, f) for f in files
                   if f.endswith(".parquet") and not f.startswith((".", "_")))
    return sorted(out)
