"""Seeded input generator for the job-level benchmark.

The inputs are the engine's transcripts model ``(conv_id, turn_idx, role,
text, tool, ts)`` derived from an events table the way
``sources.readers.transcripts_sql`` derives it: one conversation per user,
turns ordered by ``(ts, event_id)``, role, text and tool keyed on the event.
The events are ``data/events.parquet``, a byte-for-byte copy of the
project's sf0.01 test events (10,000 events of 150 users over 30 days,
about 67 per user). They are scaled to the wanted size by key-shift
replication, as ``sources.readers.replicate_events`` does: replica ``r``
shifts ``user_id`` by ``r * 10**6`` and ``event_id`` by ``r * 10**9``, so
conversation sizes, text and timestamps keep the events' shape. DuckDB
does the derivation; the program under test only sees the parquet files
written here.

The seed only places defects: the deleted, text-mutated and tool-nulled
rows of the target copy (about 1.5 % of the rows, spread over every key
range) and the conversations missing from the dimension (about 2 %, orphans
for the referential check).
"""

from __future__ import annotations

import hashlib
import os
import shutil

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
EVENTS = os.path.join(HERE, "data", "events.parquet")
#: events (and so source-table turns) per replica
EVENTS_PER_REPLICA = 10_000
#: part files per table directory (fixed, so inputs do not depend on cores).
N_FILES = 8
TABLES = ("source", "target", "dim_conversations")

_TRANSCRIPTS = """
CREATE TEMP TABLE src AS
WITH events AS (
  SELECT event_id + r * 1000000000 AS event_id, ts,
         user_id + r * 1000000 AS user_id, event_type, props
  FROM read_parquet(?), range({replicas}) AS rep(r)
), t AS (
  SELECT
    'c' || CAST(user_id AS VARCHAR) AS conv_id,
    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
         AS INTEGER) AS turn_idx,
    CASE WHEN event_id % 10 < 4 THEN 'user'
         WHEN event_id % 10 < 8 THEN 'assistant'
         WHEN event_id % 10 < 9 THEN 'system'
         ELSE 'tool' END AS role,
    event_type || ' ' || props || ' u' || CAST(user_id AS VARCHAR)
        || ' e' || CAST(event_id % 97 AS VARCHAR) AS text,
    CASE WHEN event_id % 10 = 9 THEN 'tool_' || CAST(event_id % 5 AS VARCHAR)
         END AS tool,
    CAST(ts AS TIMESTAMPTZ) AS ts,
    event_id, user_id
  FROM events
)
SELECT *, hash({seed}, event_id) % 10000 AS u
FROM t
"""

# defects by u (per 10,000 rows): 50 deleted, 50 text-mutated, and 500 of
# the tool rows (a tenth of all rows) tool-nulled
_TARGET = """
SELECT conv_id, turn_idx, role,
       CASE WHEN u >= 50 AND u < 100 THEN text || ' MUTATED' ELSE text END AS text,
       CASE WHEN role = 'tool' AND u >= 100 AND u < 600 THEN NULL ELSE tool END AS tool,
       ts
FROM src
WHERE u >= 50
ORDER BY conv_id, turn_idx
"""

_DIMENSION = """
SELECT conv_id, 'ch' || CAST(user_id % 7 AS VARCHAR) AS channel, min(ts) AS started_ts
FROM src
WHERE hash({seed}, user_id, 'dim') % 100 >= 2
GROUP BY conv_id, user_id
ORDER BY conv_id
"""


def generate(seed: int, replicas: int) -> dict:
    """All tables of one input set, keyed by table name, as Arrow tables."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads TO 2")
    con.execute(_TRANSCRIPTS.format(replicas=replicas, seed=seed), [EVENTS])
    out = {
        "source": con.execute(
            "SELECT conv_id, turn_idx, role, text, tool, ts FROM src"
            " ORDER BY conv_id, turn_idx"
        ).arrow(),
        "target": con.execute(_TARGET).arrow(),
        "dim_conversations": con.execute(_DIMENSION.format(seed=seed)).arrow(),
    }
    con.close()
    return out


def write_inputs(root: str, seed: int, replicas: int) -> dict[str, str]:
    """Generate and write the input set under ``root`` unless it is already
    there; returns table name -> parquet directory. The cache key is
    (seed, size, this file's content); a finished set carries a
    ``_COMPLETE`` marker."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:10]
    base = os.path.join(root, f"s{seed}-r{replicas}-{version}")
    paths = {n: os.path.join(base, n) for n in TABLES}
    if os.path.exists(os.path.join(base, "_COMPLETE")):
        return paths
    shutil.rmtree(base, ignore_errors=True)
    for name, table in generate(seed, replicas).items():
        os.makedirs(paths[name])
        per = -(-table.num_rows // N_FILES)
        for i in range(N_FILES):
            pq.write_table(
                table.slice(i * per, per),
                os.path.join(paths[name], f"part-{i:05d}.parquet"),
            )
    open(os.path.join(base, "_COMPLETE"), "w").close()
    return paths
