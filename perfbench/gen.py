"""Seeded transcript generator and DuckDB reference outputs.

Every value is a function of (seed, row coordinates) through DuckDB's
`hash`, and every file is written from an ORDER BY, so one seed gives the
same rows and the same files on every run. `Transcripts.syntheticDistributed`
is not used: it takes no seed, and its one-conversation-per-hour timeline
would give thousands of `ds` partitions.

Knobs per workload (see WORKLOADS): conversations, turns per conversation,
hot-key share (either a fraction of conversations with `hot_mult` times the
turns, or one conversation holding `hot_share` of all turns), conversations
per user, `created_ts` versions and day partitions.
"""
import os

BASE = "TIMESTAMP '2024-01-01 00:00:00'"
DAY_S = 86400

WORKLOADS = {
    # Three views over two key sets (two conv-keyed, one of them with
    # created-ts versions; one user-keyed), one conversation holding a fifth
    # of all turns.
    "pit_multiview_skew": dict(
        convs=1500, turns_lo=10, turns_hi=40, hot_frac=0.0, hot_mult=1,
        hot_share=0.2, convs_per_user=20, versions=3, days=30, partitioned=False),
    # `ds`-partitioned transcript for Backfill + Materialize.
    "feature_backfill": dict(
        convs=1500, turns_lo=10, turns_hi=40, hot_frac=0.01, hot_mult=50,
        hot_share=0.0, convs_per_user=20, versions=0, days=2, partitioned=True),
}

FILES_PER_TABLE = 4
MULTIVIEW = [
    # (view, key, source, ttl seconds, created column, tie-break column,
    #  {output feature: expression over the source row `f`});
    # keep in step with PitMultiviewSkew in Workloads.scala
    ("turn_stats", "conv_id", "turns", 4 * 3600, None, "turn_idx",
     {"turn_idx": "f.turn_idx", "text_len": "length(f.text)", "turn_ts": "f.ts"}),
    ("quality", "conv_id", "quality", 4 * 3600, "created_ts", "version",
     {"score": "f.score", "version": "f.version", "q_ts": "f.ts", "q_created": "f.created_ts"}),
    ("user_profile", "user_id", "users", 3 * DAY_S, None, "rev",
     {"tier": "f.tier", "credits": "f.credits", "profile_ts": "f.ts"}),
]


def _h(seed, *parts):
    return f"hash({seed}, {', '.join(str(p) for p in parts)})"


def _copy(con, select_sql, path, order):
    con.execute(f"COPY ({select_sql} ORDER BY {order}) TO '{path}' (FORMAT PARQUET)")


def _copy_split(con, table, out_dir, order):
    """Write `table` as FILES_PER_TABLE row-balanced files, so the engine's
    scan has more than one task."""
    os.makedirs(out_dir, exist_ok=True)
    n = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
    con.execute(f"CREATE OR REPLACE TEMP TABLE __ranked AS "
                f"SELECT *, row_number() OVER (ORDER BY {order}) - 1 AS __rn FROM {table}")
    for k in range(FILES_PER_TABLE):
        lo, hi = k * n // FILES_PER_TABLE, (k + 1) * n // FILES_PER_TABLE
        _copy(con, f"SELECT * EXCLUDE (__rn) FROM __ranked WHERE __rn >= {lo} AND __rn < {hi}",
              f"{out_dir}/part-{k}.parquet", order)


def build_tables(con, workload, seed):
    """Create the in-memory tables `turns`, `probes` (and `quality`,
    `users` where the workload has them)."""
    w = WORKLOADS[workload]
    s = seed
    hot_pct = int(round(w["hot_frac"] * 1000))
    con.execute(f"""
      CREATE OR REPLACE TABLE convs AS
      SELECT c,
        'c' || lpad(c::VARCHAR, 7, '0') AS conv_id,
        'u' || lpad((c // {w['convs_per_user']})::VARCHAR, 6, '0') AS user_id,
        (({w['turns_lo']} + {_h(s, "'n'", 'c')} % {w['turns_hi'] - w['turns_lo'] + 1})
          * CASE WHEN {_h(s, "'hot'", 'c')} % 1000 < {hot_pct} THEN {w['hot_mult']} ELSE 1 END)::BIGINT AS n,
        ({_h(s, "'start'", 'c')} % {w['days'] * DAY_S})::BIGINT AS start_s
      FROM range({w['convs']}) t(c)""")
    if w["hot_share"] > 0:
        # conversation 0 holds hot_share of all turns
        con.execute(f"""
          UPDATE convs SET n = (SELECT round(sum(n) * {w['hot_share']} / (1 - {w['hot_share']}))::BIGINT
                                FROM convs WHERE c > 0),
                           start_s = 0
          WHERE c = 0""")
    con.execute(f"""
      CREATE OR REPLACE TABLE turns AS
      WITH t AS (SELECT c, conv_id, user_id, start_s, unnest(range(n)) AS i FROM convs),
      r AS (SELECT *, {_h(s, "'t'", 'c', 'i')} AS r FROM t),
      g AS (SELECT *, (1 + (r >> 8) % 120 + CASE WHEN (r >> 20) % 40 = 0 THEN 3600 ELSE 0 END) AS gap_s FROM r)
      SELECT conv_id, user_id, i::INTEGER AS turn_idx,
        CASE r % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
        repeat(substr(md5(r::VARCHAR), 1, 8), (1 + (r >> 24) % 8)::INTEGER) AS text,
        CASE WHEN r % 3 = 2 THEN 'tool_' || ((r >> 28) % 5)::VARCHAR END AS tool,
        {BASE} + to_seconds(start_s + sum(gap_s) OVER (PARTITION BY c ORDER BY i)) AS ts,
        r
      FROM g""")
    if w["partitioned"]:
        con.execute(f"DELETE FROM turns WHERE ts >= {BASE} + INTERVAL {w['days']} DAY")
        con.execute("ALTER TABLE turns ADD COLUMN ds VARCHAR")
        con.execute("UPDATE turns SET ds = strftime(ts, '%Y-%m-%d')")
    con.execute(f"""
      CREATE OR REPLACE TABLE probes AS
      SELECT conv_id, user_id, ts + INTERVAL 30 SECOND AS event_ts
      FROM turns WHERE (r >> 40) % 10 = 0""")
    if w["versions"] > 0:
        con.execute(f"""
          CREATE OR REPLACE TABLE quality AS
          WITH v AS (SELECT conv_id, turn_idx, ts, unnest(range({w['versions']})) AS version
                     FROM turns WHERE (r >> 32) % 3 = 0),
          h AS (SELECT *, {_h(s, "'q'", 'conv_id', 'turn_idx', 'version')} AS q FROM v)
          SELECT conv_id, ts,
            CASE WHEN version > 0 AND q % 100 = 0 THEN NULL
                 ELSE ts + to_seconds((version * 600 + q % 300)::BIGINT) END AS created_ts,
            ((q >> 16) % 100)::INTEGER AS score, version::INTEGER AS version
          FROM h""")
        n_users = (w["convs"] + w["convs_per_user"] - 1) // w["convs_per_user"]
        con.execute(f"""
          CREATE OR REPLACE TABLE users AS
          WITH u AS (SELECT u, unnest(range(6)) AS rev FROM range({n_users}) t(u)),
          h AS (SELECT *, {_h(s, "'u'", 'u', 'rev')} AS q FROM u)
          SELECT 'u' || lpad(u::VARCHAR, 6, '0') AS user_id, rev::INTEGER AS rev,
            {BASE} + to_seconds((q % {w['days'] * DAY_S})::BIGINT) AS ts,
            ((q >> 20) % 4)::INTEGER AS tier, ((q >> 24) % 1000)::INTEGER AS credits
          FROM h""")


def write_inputs(con, workload, out_dir):
    """Write the engine's inputs under `out_dir` and return the input record."""
    w = WORKLOADS[workload]
    os.makedirs(out_dir, exist_ok=True)
    if w["partitioned"]:
        days = [r[0] for r in con.execute("SELECT DISTINCT ds FROM turns ORDER BY ds").fetchall()]
        for d in days:
            os.makedirs(f"{out_dir}/turns/ds={d}", exist_ok=True)
            _copy(con, f"SELECT conv_id, turn_idx, role, text, tool, ts FROM turns WHERE ds = '{d}'",
                  f"{out_dir}/turns/ds={d}/part-0.parquet", "conv_id, turn_idx")
    else:
        con.execute("CREATE OR REPLACE TEMP VIEW turns_out AS "
                    "SELECT conv_id, turn_idx, role, text, tool, ts FROM turns")
        _copy_split(con, "turns_out", f"{out_dir}/turns", "conv_id, turn_idx")
        _copy_split(con, "probes", f"{out_dir}/probes", "conv_id, event_ts")
        _copy_split(con, "quality", f"{out_dir}/quality", "conv_id, ts, version")
        _copy_split(con, "users", f"{out_dir}/users", "user_id, rev")
    turns = con.execute("SELECT count(*) FROM turns").fetchone()[0]
    top = con.execute("SELECT max(n) FROM (SELECT count(*) AS n FROM turns GROUP BY conv_id)").fetchone()[0]
    rec = {
        "turns": turns,
        "probes": 0 if w["partitioned"] else con.execute("SELECT count(*) FROM probes").fetchone()[0],
        "conversations": con.execute("SELECT count(DISTINCT conv_id) FROM turns").fetchone()[0],
        "views": 0 if w["partitioned"] else len(MULTIVIEW),
        "hot_key_share": round(top / turns, 4),
        "partitions": len(days) if w["partitioned"] else 0,
        "bytes_on_disk": sum(os.path.getsize(os.path.join(d, f))
                             for d, _, fs in os.walk(out_dir) for f in fs),
    }
    return rec


def _pit_winner(view, key, src, ttl_s, created, feats, tie):
    """Winner per probe id under the engine's as-of semantics: the latest
    row with ts <= event_ts (and created_ts <= event_ts when created-ts
    filtering) inside the TTL, ordered by (ts, created_ts, tie-break)."""
    cond = (f"f.{key} = p.{key} AND f.ts <= p.event_ts "
            f"AND f.ts >= p.event_ts - INTERVAL {ttl_s} SECOND")
    order = ["f.ts DESC"]
    if created:
        cond += f" AND f.{created} IS NOT NULL AND f.{created} <= p.event_ts"
        order.append(f"f.{created} DESC")
    order.append(f"f.{tie} DESC")
    sel = ", ".join(f'{expr} AS "{view}__{name}"' for name, expr in feats.items())
    out = ", ".join(f'"{view}__{name}"' for name in feats)
    return f"""
      (SELECT pid, {out} FROM (
         SELECT p.pid, {sel},
                row_number() OVER (PARTITION BY p.pid ORDER BY {', '.join(order)}) AS rn
         FROM p JOIN {src} f ON {cond}) WHERE rn = 1)"""


def write_reference(con, workload, ref_dir):
    """Write the expected engine output of one job under `ref_dir`."""
    os.makedirs(ref_dir, exist_ok=True)
    if workload == "pit_multiview_skew":
        con.execute("CREATE OR REPLACE TEMP TABLE p AS "
                    "SELECT row_number() OVER () AS pid, conv_id, user_id, event_ts FROM probes")
        joins, cols = [], []
        for i, (view, key, src, ttl, created, tie, feats) in enumerate(MULTIVIEW):
            joins.append(f"LEFT JOIN {_pit_winner(view, key, src, ttl, created, feats, tie)} w{i} USING (pid)")
            cols += [f'w{i}."{view}__{n}"' for n in feats]
        sql = f"SELECT p.conv_id, p.user_id, p.event_ts, {', '.join(cols)} FROM p {' '.join(joins)}"
        _copy(con, sql, f"{ref_dir}/pit.parquet", "conv_id, event_ts")
    else:
        _backfill_reference(con, ref_dir)


def _backfill_reference(con, ref_dir):
    # Backfill.dailyFeatureJob over each partition's slice (the partition
    # plus one lookback partition), output filtered to the partition.
    con.execute(f"""
      CREATE OR REPLACE TEMP TABLE bf AS
      WITH parts AS (SELECT ds, row_number() OVER (ORDER BY ds) AS k FROM (SELECT DISTINCT ds FROM turns)),
      sl AS (SELECT p.ds AS target, t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts, t.ds
             FROM parts p JOIN parts q ON q.k BETWEEN p.k - 1 AND p.k JOIN turns t ON t.ds = q.ds),
      f AS (SELECT *, epoch_us(ts) AS us,
              CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY target, conv_id ORDER BY turn_idx)
                        > 1800 * 1000000 THEN 1 ELSE 0 END AS new_s
            FROM sl),
      s AS (SELECT *, (sum(new_s) OVER (PARTITION BY target, conv_id ORDER BY turn_idx
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
            FROM f),
      w AS (SELECT conv_id, turn_idx, role, text, tool, ts, ds, target, length(text) AS text_len, session_id,
        row_number() OVER (PARTITION BY target, conv_id, session_id ORDER BY turn_idx) AS turn_in_session,
        count(tool) OVER (PARTITION BY target, conv_id ORDER BY us
                          RANGE BETWEEN {4 * 3600 * 1000000} PRECEDING AND CURRENT ROW) AS tool_cnt_w,
        count(*) OVER (PARTITION BY target, conv_id ORDER BY us
                       RANGE BETWEEN {4 * 3600 * 1000000} PRECEDING AND CURRENT ROW) AS turn_cnt_w
        FROM s)
      SELECT * EXCLUDE (target) FROM w WHERE ds = target""")
    _copy(con, "SELECT * FROM bf", f"{ref_dir}/backfill.parquet", "conv_id, turn_idx")
    # Materialize.latestPerKey over the backfilled output, whole time range
    _copy(con, """SELECT conv_id, turn_idx, session_id, tool_cnt_w, ts FROM (
                    SELECT *, row_number() OVER (PARTITION BY conv_id ORDER BY ts DESC) AS rn FROM bf)
                  WHERE rn = 1""", f"{ref_dir}/materialize.parquet", "conv_id")
