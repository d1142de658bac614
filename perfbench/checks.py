"""Checks of the benchmark's outputs, computed apart from the program.

The backfill features are recomputed in DuckDB over the staged input; the
gate's text normalisation (trim, then full Unicode lower-casing) is done in
Python, because DuckDB's `lower` lacks the final-sigma and dotted-capital-I
mappings. Operator-mix results are compared with each query's oracle SQL by
the repository's own `scripts/compare.py`.
"""
import glob
import json
import subprocess
import sys

import duckdb
import pandas

SESSION_GAP_S = 1800
# Unicode White_Space, the set the gate's trim removes
WHITE_SPACE = ("\t\n\x0b\x0c\r \x85\xa0\u1680\u2000\u2001\u2002\u2003\u2004"
               "\u2005\u2006\u2007\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000")

FEATURES = ["role", "text", "tool", "ts", "rejected", "prev_text", "tool_state",
            "n_tool_calls", "session_seq", "session_id", "last_tool"]
COLUMNS = ", ".join(["conv_id", "turn_idx"] + FEATURES)


def _normalise(text):
    return text.strip(WHITE_SPACE).lower()


class BackfillCheck:
    """Expected features for one staged input, and comparisons with it."""

    def __init__(self, input_dir, buckets, tmp_dir):
        self.buckets = buckets
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")
        self.con.execute("SET threads = 4")
        self.con.execute(
            f"CREATE TABLE inp AS SELECT conv_id, turn_idx, role, text, tool, ts "
            f"FROM read_parquet('{input_dir}/*.parquet')")
        self.turns = self.con.execute("SELECT count(*) FROM inp").fetchone()[0]
        raw = [r[0] for r in self.con.execute(
            "SELECT DISTINCT text FROM inp WHERE text IS NOT NULL").fetchall()]
        norm = pandas.DataFrame({"raw": raw, "norm": [_normalise(t) for t in raw]},
                                dtype=object)
        self.con.register("norm", norm)
        self.con.execute(f"""
CREATE TABLE expected AS
WITH g AS (
  SELECT i.conv_id, i.turn_idx, i.role, i.tool, i.ts,
         (i.text IS NULL OR strlen(i.text) < 1 OR strlen(i.text) > 4000) AS rejected,
         CASE WHEN i.text IS NULL OR strlen(i.text) < 1 OR strlen(i.text) > 4000
              THEN i.text ELSE m.norm END AS text
  FROM inp i LEFT JOIN norm m ON i.text = m.raw
), w AS (
  SELECT *,
         lag(text) OVER win AS prev_text,
         count(tool) OVER win AS n_tool_calls,
         epoch_ms(ts) // 1000 AS sec,
         lag(epoch_ms(ts) // 1000) OVER win AS prev_sec
  FROM g WINDOW win AS (PARTITION BY conv_id ORDER BY ts, turn_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), s AS (
  SELECT *,
         first_value(tool) OVER (PARTITION BY conv_id, n_tool_calls
                                 ORDER BY ts, turn_idx) AS tool_state,
         CAST(sum(CASE WHEN prev_sec IS NULL OR sec - prev_sec > {SESSION_GAP_S}
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT)
           AS session_seq
  FROM w
), obs AS (
  SELECT conv_id, ts, arg_max(tool, turn_idx) AS last_tool
  FROM inp WHERE tool IS NOT NULL GROUP BY conv_id, ts
)
SELECT s.conv_id, s.turn_idx, s.role, s.text, s.tool, s.ts, s.rejected,
       s.prev_text, s.tool_state, CAST(s.n_tool_calls AS BIGINT) AS n_tool_calls,
       s.session_seq, s.conv_id || '#' || CAST(s.session_seq AS VARCHAR) AS session_id,
       o.last_tool
FROM s ASOF LEFT JOIN obs o ON s.conv_id = o.conv_id AND s.ts >= o.ts
""")
        self.expected = self._row_hashes("expected")

    def _view(self, name, out_dir):
        self.con.execute(f"""
CREATE OR REPLACE VIEW {name} AS
SELECT conv_id, turn_idx, role, text, tool, ts, n_errors > 0 AS rejected,
       prev_text, tool_state, CAST(n_tool_calls AS BIGINT) AS n_tool_calls,
       CAST(session_seq AS BIGINT) AS session_seq, session_id, last_tool
FROM read_parquet('{out_dir}/bucket=*/*.parquet')""")

    def _row_hashes(self, view):
        """A table of one 64-bit hash per row of `view`, over every compared
        column, so that EXCEPT ALL compares one column instead of thirteen."""
        self.con.execute(f"CREATE OR REPLACE TABLE {view}_h AS "
                         f"SELECT hash({COLUMNS}) AS h FROM {view}")
        return f"{view}_h"

    def _except_both(self, a, b):
        """Rows of `a` not in `b` plus rows of `b` not in `a`, as multisets."""
        n = 0
        for x, y in ((a, b), (b, a)):
            n += self.con.execute(
                f"SELECT count(*) FROM (SELECT h FROM {x} EXCEPT ALL SELECT h FROM {y})"
            ).fetchone()[0]
        return n

    def _first_difference(self, view):
        row = self.con.execute(f"""
SELECT e.conv_id, e.turn_idx, g.turn_idx IS NULL AS missing
FROM expected e LEFT JOIN {view} g USING (conv_id, turn_idx)
WHERE g.turn_idx IS NULL OR {" OR ".join(f"e.{c} IS DISTINCT FROM g.{c}" for c in FEATURES)}
ORDER BY 1, 2 LIMIT 1""").fetchone()
        if row is None:
            return "row counts differ"
        if row[2]:
            return f"row ({row[0]}, {row[1]}) missing from the output"
        diff = []
        for c in FEATURES:
            e, g = self.con.execute(
                f"SELECT e.{c}, g.{c} FROM expected e JOIN {view} g USING (conv_id, turn_idx) "
                f"WHERE conv_id = ? AND turn_idx = ?", [row[0], row[1]]).fetchone()
            if e != g:
                diff.append(f"{c}: expected {e!r}, got {g!r}")
        return f"row ({row[0]}, {row[1]}): " + "; ".join(diff)

    def _manifest(self, out_dir):
        entries = {}
        for p in glob.glob(f"{out_dir}/_manifest/bucket-*.json"):
            e = json.load(open(p))
            entries[e["bucket"]] = e["rows"]
        if set(entries) != set(range(self.buckets)):
            missing = sorted(set(range(self.buckets)) - set(entries))
            return f"manifest lacks buckets {missing}"
        if sum(entries.values()) != self.turns:
            return f"manifest rows sum to {sum(entries.values())}, input has {self.turns}"
        return None

    def full(self, out_dir):
        """Errors of a full backfill output: features and manifest."""
        self._view("got", out_dir)
        errors = []
        if self._except_both(self._row_hashes("got"), self.expected):
            errors.append(self._first_difference("got"))
        m = self._manifest(out_dir)
        if m:
            errors.append(m)
        return errors

    def resumed(self, out_dir, clean_dir):
        """Errors of a resumed output: equal to the clean one, manifest whole."""
        self._view("res", out_dir)
        self._view("clean", clean_dir)
        errors = []
        n = self._except_both(self._row_hashes("res"), self._row_hashes("clean"))
        if n:
            errors.append(f"resumed output differs from the clean output in {n} rows; "
                          + self._first_difference("res"))
        m = self._manifest(out_dir)
        if m:
            errors.append(m)
        return errors


def mix_pass(compare_py, data_dir, pass_dir, queries):
    """Per-query errors of one operator-mix pass, from `compare.py` (subset
    mode) over the pass's dumps and oracle SQL."""
    p = subprocess.run([sys.executable, compare_py, data_dir, pass_dir, "subset"],
                       capture_output=True, text=True, timeout=120, cwd=pass_dir)
    ok = set()
    errors = {}
    for line in p.stdout.splitlines():
        if line.startswith("OK "):
            ok.add(line.split()[1].rstrip(":"))
        elif line.startswith("FAIL "):
            name = line.split()[1].rstrip(":")
            errors[name] = line
    for q in queries:
        if q not in ok and q not in errors:
            errors[q] = f"FAIL {q}: not compared ({p.stderr.strip()[-200:]})"
    return errors
