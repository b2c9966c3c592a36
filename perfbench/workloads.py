"""The benchmark's workloads: set-up, ops and expected results.

Each workload builds its own Iceberg tables under the run's work
directory from inputs that ``tools/gen_sf.py`` generates with the run's
seed, and checks every op against an expected result computed without
the engine: a ledger of committed rows (``commit_mix``) or DuckDB over
the generated parquet (``scan_analytics``).
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BIG = np.iinfo(np.int64).max


class Op:
    """One timed op: ``run()`` returns the drained result, ``check(got)``
    compares it with the expected one."""

    def __init__(self, kind: str, run, check):
        self.kind = kind
        self.run = run
        self.check = check


def gen_tables(root: str, sf: float, seed: int, tables: str, out: str) -> None:
    """Generate parquet inputs with the repo's generator."""
    cmd = [sys.executable, os.path.join(root, "tools", "gen_sf.py"), "--sf", str(sf),
           "--seed", str(seed), "--tables", tables, "--out", out]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, timeout=120)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def row_digest(rows) -> tuple[int, int]:
    """(count, order-independent checksum) of an iterable of tuples."""
    n, acc = 0, 0
    for r in rows:
        h = hashlib.blake2b(repr(tuple(r)).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return n, acc


# ---------------------------------------------------------------------------
# commit_mix
# ---------------------------------------------------------------------------


class Ledger:
    """Every row the benchmark committed, with the commits that added
    and deleted it; the expected result of any read at any snapshot."""

    def __init__(self):
        self.eid = np.zeros(0, np.int64)
        self.uid = np.zeros(0, np.int64)
        self.cents = np.zeros(0, np.int64)
        self.added = np.zeros(0, np.int64)
        self.deleted = np.zeros(0, np.int64)
        self.snapshots: list[int] = []  # commit index -> snapshot id
        self.data_rows = 0
        self.deleted_rows = 0

    def copy(self) -> "Ledger":
        other = Ledger()
        for k, v in vars(self).items():
            setattr(other, k, v.copy() if hasattr(v, "copy") else v)
        return other

    def add(self, batch: pa.Table, commit: int) -> None:
        n = batch.num_rows
        self.eid = np.concatenate([self.eid, batch["event_id"].to_numpy()])
        self.uid = np.concatenate([self.uid, batch["user_id"].to_numpy()])
        self.cents = np.concatenate([self.cents, np.rint(batch["value"].to_numpy() * 100).astype(np.int64)])
        self.added = np.concatenate([self.added, np.full(n, commit, np.int64)])
        self.deleted = np.concatenate([self.deleted, np.full(n, BIG, np.int64)])
        self.data_rows += n

    def live(self, commit: int) -> np.ndarray:
        return (self.added <= commit) & (self.deleted > commit)

    def delete(self, mask: np.ndarray, commit: int) -> None:
        self.deleted[mask] = commit
        self.deleted_rows += int(mask.sum())

    def table_sums(self, commit: int) -> tuple:
        m = self.live(commit)
        return (int(m.sum()), int(self.eid[m].sum()), int(self.uid[m].sum()), int(self.cents[m].sum()))

    def point_sums(self, commit: int, user: int) -> tuple:
        m = self.live(commit) & (self.uid == user)
        return (int(m.sum()), int(self.eid[m].sum()), int(self.cents[m].sum()))


class CommitMix:
    """Commits beside reads on an events table with a long history.

    Set-up builds the table from seeded sf0.1 ``events`` batches: one
    ``create`` plus ``HISTORY - 1`` ``add_files`` appends, so the table
    starts with more snapshots than the 64-walk manifest cache holds.
    The run is a sequence of episodes. Each restores that table and
    makes 5 commits in a seeded order: 3 ``append``, 1 ``delete_where``
    and 1 ``merge`` upsert. Each commit is followed by a read-your-write
    scan of the latest snapshot, drained to four sums, by a time-travel
    point read (``user_id = K`` at a set-up snapshot from one fifth of
    the history, so an episode covers all of it), and by an
    ``iceberg_snapshots`` or ``iceberg_metadata`` listing, in turn.
    """

    PREFIX = "cm"
    SETUP_REPS = 3
    HISTORY = 70
    PATTERN = ["append", "append", "append", "delete", "merge"]
    BATCH = 600

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = random.Random(ctx.seed)
        self.sf = 0.001 if ctx.smoke else 0.1
        self.history = 20 if ctx.smoke else self.HISTORY

    # -- set-up ----------------------------------------------------------

    def setup(self, rep: int) -> None:
        from duckdb_iceberg_spark import IcebergTable

        base = os.path.join(self.ctx.work, f"{self.PREFIX}{rep}")
        gen_tables(self.ctx.root, self.sf, self.ctx.seed, "events", base)
        ev = pq.read_table(os.path.join(base, "events.parquet"))
        ev = ev.set_column(1, "ts", ev["ts"].cast(pa.timestamp("us", tz="UTC")))
        # rows are split between the history and a pool the episodes
        # append and merge from
        n_hist = min(ev.num_rows * 3 // 4, self.history * self.BATCH)
        step = max(1, n_hist // self.history)
        path = os.path.join(base, "events_tbl")
        ledger = Ledger()
        first = ev.slice(0, step)
        tbl = IcebergTable.create(self.spark, path, self.spark.createDataFrame(first.to_pandas()))
        ledger.add(first, 0)
        ledger.snapshots.append(tbl.meta.raw["current-snapshot-id"])
        ids = {c.name: c.field_id for c in tbl.schema.columns}
        schema = pa.schema([f.with_metadata({b"PARQUET:field_id": str(ids[f.name]).encode()}) for f in ev.schema])
        for c in range(1, self.history):
            batch = ev.slice(c * step, step)
            f = os.path.join(path, "data", f"hist-{c:05d}.parquet")
            pq.write_table(batch.cast(schema), f)
            tbl.add_files([f])
            ledger.add(batch, c)
            ledger.snapshots.append(tbl.meta.raw["current-snapshot-id"])
        backup = os.path.join(base, "backup")
        shutil.copytree(path, backup)
        self.path, self.backup, self.base_ledger = path, backup, ledger
        self.rows = ev
        self.row_pos = {int(e): i for i, e in enumerate(ev["event_id"].to_numpy())}
        self.pool = ev.slice(self.history * step)
        self.batch = min(self.BATCH, self.pool.num_rows // 4)
        self.episodes = 0
        self.pool_pos = 0
        self.input_bytes = 0
        self.stored_bytes = 0

    # -- episodes --------------------------------------------------------

    def restore(self) -> None:
        from duckdb_iceberg_spark import IcebergTable

        shutil.rmtree(self.path)
        shutil.copytree(self.backup, self.path)
        self.table = IcebergTable(self.spark, self.path)
        self.ledger = self.base_ledger.copy()
        # every episode appends the same pool rows, so no event_id is
        # committed twice within one
        self.pool_pos = 0
        self.start_bytes = dir_bytes(self.path)

    def finish_episode(self) -> None:
        self.stored_bytes += dir_bytes(self.path) - self.start_bytes

    def unit(self):
        """Yield the ops of one episode; the caller times and checks them."""
        self.restore()
        kinds = list(self.PATTERN)
        self.rng.shuffle(kinds)
        for j, kind in enumerate(kinds):
            yield self._commit_op(kind)
            yield self._latest_read_op()
            yield self._point_read_op(self._history_snapshot(j, len(kinds)))
            yield self._listing_op(j + self.episodes)
        self.finish_episode()
        self.episodes += 1

    def _take_pool(self, n: int) -> pa.Table:
        out = self.pool.slice(self.pool_pos, n)
        self.pool_pos += n
        return out

    def _commit_op(self, kind: str) -> Op:
        L = self.ledger
        c = len(L.snapshots)
        spark = self.spark
        if kind == "append":
            batch = self._take_pool(self.batch)
            self.input_bytes += batch.nbytes

            def run():
                with self.ctx.tracer.span("driver.construct"):
                    df = spark.createDataFrame(batch.to_pandas())
                self.table.append(df)
                return self.table.meta.raw["current-snapshot-id"]

            def apply():
                L.add(batch, c)
        elif kind == "delete":
            live = L.live(c - 1)
            user = int(self.rng.choice(L.uid[live]))

            def run():
                self.table.delete_where(f"user_id = {user}")
                return self.table.meta.raw["current-snapshot-id"]

            def apply():
                L.delete(L.live(c - 1) & (L.uid == user), c)
        else:
            live_idx = np.flatnonzero(L.live(c - 1))
            pick = np.array(sorted(self.rng.sample(range(len(live_idx)), self.batch // 2)))
            rows = live_idx[pick]
            fresh = self._take_pool(self.batch // 2)
            src = pa.concat_tables([self._changed_rows(rows), fresh])
            self.input_bytes += src.nbytes

            def run():
                with self.ctx.tracer.span("driver.construct"):
                    df = spark.createDataFrame(src.to_pandas())
                self.table.merge(
                    df, on="event_id",
                    when_matched_update={"value": "src.value"}, when_not_matched_insert=True,
                )
                return self.table.meta.raw["current-snapshot-id"]

            def apply():
                mask = np.zeros(len(L.eid), bool)
                mask[rows] = True
                L.delete(mask, c)
                L.add(src, c)

        def check(snapshot_id):
            apply()
            L.snapshots.append(snapshot_id)
            return snapshot_id is not None and snapshot_id not in L.snapshots[:-1]

        return Op(f"commit.{kind}", run, check)

    def _changed_rows(self, rows: np.ndarray) -> pa.Table:
        """The rows at ledger positions ``rows`` with 1.25 added to their
        current value: the matched half of a merge source."""
        L = self.ledger
        t = self.rows.take(pa.array([self.row_pos[int(e)] for e in L.eid[rows]]))
        return t.set_column(4, "value", pa.array((L.cents[rows] + 125) / 100.0))

    def _latest_read_op(self) -> Op:
        from pyspark.sql import functions as F

        tr, L = self.ctx.tracer, self.ledger

        def run():
            from duckdb_iceberg_spark.sources import iceberg as SRC

            with tr.span("driver.construct"):
                df = SRC.iceberg_scan(self.spark, self.path).agg(
                    F.count(F.lit(1)), F.sum("event_id"), F.sum("user_id"),
                    F.sum(F.round(F.col("value") * 100).cast("long")),
                )
            return tuple(int(x or 0) for x in self.ctx.collect(df)[0])

        return Op("read.latest", run, lambda got: got == L.table_sums(len(L.snapshots) - 1))

    def _history_snapshot(self, j: int, strata: int) -> int:
        """The set-up snapshot read after commit ``j``: the ``j``-th of
        ``strata`` equal slices of the history, offset by the episode
        count. Each episode covers the whole history, no snapshot is
        read twice until the offsets run out, so every time-travel read
        misses the engine's metadata caches, and every seed reads the
        same positions: their cost depends on the file count."""
        stride = self.history // strata
        return j * stride + self.episodes % stride

    def _point_read_op(self, c: int) -> Op:
        L = self.ledger
        sid = L.snapshots[c]
        live = L.live(c)
        user = int(self.rng.choice(L.uid[live]))

        def run():
            from duckdb_iceberg_spark.sources import iceberg as SRC

            with self.ctx.tracer.span("driver.construct"):
                df = SRC.iceberg_scan(self.spark, self.path, snapshot_id=sid, where=f"user_id = {user}")
            rows = self.ctx.collect(df)
            return (len(rows), sum(r["event_id"] for r in rows), sum(int(round(r["value"] * 100)) for r in rows))

        return Op("read.time_travel", run, lambda got: got == L.point_sums(c, user))

    def _listing_op(self, which: int) -> Op:
        from pyspark.sql import functions as F

        L = self.ledger
        tr = self.ctx.tracer
        if which % 2 == 0:
            def run():
                from duckdb_iceberg_spark.sources import iceberg as SRC

                with tr.span("driver.construct"):
                    df = SRC.iceberg_snapshots(self.spark, self.path).select("snapshot_id")
                return sorted(r[0] for r in self.ctx.collect(df))

            return Op("read.snapshots", run, lambda got: got == sorted(L.snapshots))

        def run():
            from duckdb_iceberg_spark.sources import iceberg as SRC

            with tr.span("driver.construct"):
                df = (
                    SRC.iceberg_metadata(self.spark, self.path)
                    .filter(F.col("status") != "DELETED")
                    .groupBy("content").agg(F.sum("record_count"))
                )
            return {r[0]: int(r[1]) for r in self.ctx.collect(df)}

        def check(got):
            # the listing renders data entries' content as EXISTING
            want = {"EXISTING": L.data_rows}
            if L.deleted_rows:
                want["POSITION_DELETES"] = L.deleted_rows
            return got == want

        return Op("read.metadata", run, check)

    def stored_per_input(self) -> float:
        return self.stored_bytes / self.input_bytes if self.input_bytes else float("nan")

    def reset_counters(self) -> None:
        self.input_bytes = self.stored_bytes = 0

    def corrupt(self) -> None:
        self.base_ledger.cents[0] += 1


# ---------------------------------------------------------------------------
# scan_analytics
# ---------------------------------------------------------------------------

Q1 = """
SELECT l_returnflag, l_linestatus, SUM(qty_c), SUM(price_c), SUM(price_c * (100 - disc_c)), COUNT(*)
FROM li WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""
Q3 = """
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), SUM(price_c * (100 - disc_c)) AS rev
FROM customer JOIN orders ON c_custkey = o_custkey JOIN li ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY 1, 2 ORDER BY rev DESC, l_orderkey LIMIT 10
"""
Q6_WHERE = (
    "l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'"
    " AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"
)
Q6 = f"SELECT SUM(price_c * disc_c), COUNT(*) FROM li WHERE {Q6_WHERE}"
Q10 = """
SELECT c_custkey, c_name, n_name, SUM(price_c * (100 - disc_c)) AS rev
FROM li JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY 1, 2, 3 ORDER BY rev DESC, c_custkey LIMIT 20
"""
MINHASH = r"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) AS tok FROM documents),
sig AS (
  SELECT doc_id, p.i, MIN(md5(CAST(p.i AS VARCHAR) || ':' || tok)) AS h
  FROM toks, (SELECT unnest(generate_series(0, 15)) AS i) p GROUP BY doc_id, p.i)
SELECT doc_id, md5(string_agg(h, '|' ORDER BY i)) FROM sig GROUP BY doc_id
"""
KNN = """
WITH l AS (SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < {nq}),
r AS (SELECT vec_id AS nid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nv
      FROM embeddings WHERE vec_id >= {nq}),
p AS (SELECT qid, nid, ROUND(list_cosine_similarity(qv, nv), 4) AS cos FROM l, r),
rk AS (SELECT qid, nid, cos, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM p)
SELECT qid, rank, nid, cos FROM rk WHERE rank <= 5
"""
COSINE = """
WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, ROUND(list_cosine_similarity(list_transform(embedding, x -> CAST(x AS DOUBLE)), qv), 4) AS cos
FROM embeddings, q WHERE vec_id > 0 ORDER BY cos DESC, vec_id LIMIT 10
"""
LI_DELETE = "l_orderkey % 50 = 7"
ANALYTICS_TABLES = ["lineitem", "orders", "customer", "nation", "documents", "embeddings"]


def _text_sql() -> str:
    from duckdb_iceberg_spark.functions import text as TX

    stop = "|".join(TX.STOPWORDS)
    return rf"""
WITH m AS (
  SELECT doc_id, text,
    CAST(LEN(regexp_split_to_array(TRIM(text), '\s+')) AS DOUBLE) AS n_tok,
    CAST(LENGTH(text) AS DOUBLE) AS n_char,
    CAST(LEN(regexp_extract_all(LOWER(text), '\b({stop})\b')) AS DOUBLE) AS n_stop,
    CAST(LEN(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) AS n_punct
  FROM documents)
SELECT doc_id,
  FLOOR((0.4 * LEAST(n_tok / 64.0, 1.0)
      + 0.3 * LEAST(n_stop / GREATEST(n_tok, 1.0) * 4, 1.0)
      + 0.3 * (1.0 - LEAST(n_punct / GREATEST(n_char, 1.0) * 4, 1.0))) * 10000) / 10000,
  {TX.lang_id_sql('text')}
FROM m
"""


def _norm(v):
    if isinstance(v, float):
        return round(v, 4)
    return v


def _close_topk(got, want, tol=2e-4) -> bool:
    """Same groups and ranks, cosines equal within ``tol``; neighbour ids
    must match wherever the cosine is not tied within ``tol`` with
    another candidate (the engine and DuckDB round independently)."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got), sorted(want)):
        if g[:-2] != w[:-2] or abs(g[-1] - w[-1]) > tol:
            return False
    want_cos = sorted(w[-1] for w in want)
    for g, w in zip(sorted(got), sorted(want)):
        if g[-2] != w[-2]:
            near = sum(1 for c in want_cos if abs(c - w[-1]) <= tol)
            if near < 2:
                return False
    return True


class ScanAnalytics:
    """Analyst queries and pipeline operators over Iceberg tables.

    Set-up generates the TPC-H-like tables, documents and embeddings at
    the workload's scale factor, writes each as an Iceberg table
    (lineitem range-partitioned on ``l_shipdate`` so ``where=`` can
    prune files) and gives lineitem merge-on-read positional deletes.
    Ops run in rounds; each round is a seeded permutation of the fixed
    op set, always at the latest snapshot, so metadata caches are warm.
    """

    PREFIX = "sa"
    SETUP_REPS = 1
    SCALE = 0.05

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = random.Random(ctx.seed)
        self.sf = 0.001 if ctx.smoke else self.SCALE

    def setup(self, rep: int) -> None:
        import duckdb

        from duckdb_iceberg_spark import IcebergTable

        base = os.path.join(self.ctx.work, f"{self.PREFIX}{rep}")
        gen_tables(self.ctx.root, self.sf, self.ctx.seed, ",".join(ANALYTICS_TABLES), base)
        self.paths = {}
        input_bytes = 0
        for name in ANALYTICS_TABLES:
            src = os.path.join(base, f"{name}.parquet")
            input_bytes += pq.read_table(src).nbytes
            df = self.spark.read.parquet(src)
            if name == "lineitem":
                df = df.repartitionByRange(8, "l_shipdate")
            path = os.path.join(base, "iceberg", name)
            tbl = IcebergTable.create(self.spark, path, df)
            if name == "lineitem":
                tbl.delete_where(LI_DELETE)
            self.paths[name] = path
        self.stored = dir_bytes(os.path.join(base, "iceberg")) / input_bytes
        con = duckdb.connect()
        for name in ANALYTICS_TABLES:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{base}/{name}.parquet')")
        con.execute(
            "CREATE VIEW li AS SELECT *, CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_c, "
            "CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c, "
            "CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_c "
            f"FROM lineitem WHERE NOT ({LI_DELETE})"
        )
        n_vec = con.execute("SELECT COUNT(*) FROM embeddings").fetchone()[0]
        self.nq = max(2, n_vec // 10)
        exp = {}
        for name, sql in (("q1", Q1), ("q3", Q3), ("q6", Q6), ("q10", Q10), ("minhash", MINHASH), ("text", _text_sql())):
            exp[name] = row_digest(tuple(_norm(v) for v in r) for r in con.execute(sql).fetchall())
        exp["knn"] = [(r[0], r[1], r[2], round(r[3], 4)) for r in con.execute(KNN.format(nq=self.nq)).fetchall()]
        exp["cosine"] = [(i + 1, r[0], round(r[1], 4)) for i, r in enumerate(con.execute(COSINE).fetchall())]
        self.query_vec = [float(x) for x in con.execute("SELECT embedding FROM embeddings WHERE vec_id = 0").fetchone()[0]]
        con.close()
        self.expected = exp

    def stored_per_input(self) -> float:
        return self.stored

    def reset_counters(self) -> None:
        pass

    def corrupt(self) -> None:
        n, acc = self.expected["q6"]
        self.expected["q6"] = (n, acc ^ 1)

    # -- ops -------------------------------------------------------------

    def unit(self):
        """Yield the ops of one round."""
        names = ["q1", "q3", "q6", "q10", "minhash", "knn", "cosine", "text"]
        self.rng.shuffle(names)
        for n in names:
            yield self._op(n)

    def _scan(self, name, **kw):
        from duckdb_iceberg_spark.sources import iceberg as SRC

        return SRC.iceberg_scan(self.spark, self.paths[name], **kw)

    def _li(self, **kw):
        from pyspark.sql import functions as F

        def cents(c):
            return F.round(F.col(c) * 100).cast("long")

        return self._scan("lineitem", **kw).select(
            "*", cents("l_quantity").alias("qty_c"), cents("l_extendedprice").alias("price_c"),
            cents("l_discount").alias("disc_c"),
        )

    def _build(self, name):
        from pyspark.sql import functions as F

        from duckdb_iceberg_spark.functions import text as TX
        from duckdb_iceberg_spark.operators import dedup as DD
        from duckdb_iceberg_spark.operators import similarity as SIM

        rev = F.sum(F.col("price_c") * (F.lit(100) - F.col("disc_c")))
        if name == "q1":
            return (
                self._li().filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
                .groupBy("l_returnflag", "l_linestatus")
                .agg(F.sum("qty_c"), F.sum("price_c"), rev, F.count(F.lit(1)))
            )
        if name == "q3":
            c = self._scan("customer").filter(F.col("c_mktsegment") == "BUILDING")
            o = self._scan("orders").filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
            li = self._li().filter(F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
            return (
                li.join(o, li.l_orderkey == o.o_orderkey).join(c, o.o_custkey == c.c_custkey)
                .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"))
                .agg(rev.alias("rev")).orderBy(F.desc("rev"), F.asc("l_orderkey")).limit(10)
            )
        if name == "q6":
            return self._li(where=Q6_WHERE).agg(F.sum(F.col("price_c") * F.col("disc_c")), F.count(F.lit(1)))
        if name == "q10":
            li = self._li().filter(F.col("l_returnflag") == "R")
            o, c, n = self._scan("orders"), self._scan("customer"), self._scan("nation")
            return (
                li.join(o, li.l_orderkey == o.o_orderkey).join(c, o.o_custkey == c.c_custkey)
                .join(n, c.c_nationkey == n.n_nationkey)
                .groupBy("c_custkey", "c_name", "n_name").agg(rev.alias("rev"))
                .orderBy(F.desc("rev"), F.asc("c_custkey")).limit(20)
            )
        if name == "minhash":
            sig = DD.minhash_signatures(self._scan("documents"), num_perm=16)
            cols = ", ".join(f"h{i}" for i in range(16))
            return sig.selectExpr("doc_id", f"md5(concat_ws('|', {cols}))")
        if name == "knn":
            e = self._scan("embeddings")
            return SIM.knn_join(
                e.filter(F.col("vec_id") < self.nq), e.filter(F.col("vec_id") >= self.nq), k=5, exact=True
            ).select("qid", "rank", "nid", "cos")
        if name == "cosine":
            e = self._scan("embeddings").filter(F.col("vec_id") > 0)
            return SIM.cosine_topk(e, self.query_vec, k=10)
        if name == "text":
            t = F.col("text")
            return self._scan("documents").select(
                "doc_id", TX.quality_score(t), TX.lang_id(t)
            )
        raise ValueError(name)

    def _op(self, name) -> Op:
        exp = self.expected[name]

        def run():
            with self.ctx.tracer.span("driver.construct"):
                df = self._build(name)
            return [tuple(r) for r in self.ctx.collect(df)]

        if name == "knn":
            return Op("query.knn", run, lambda got: _close_topk(
                [(q, k, n, float(c)) for q, k, n, c in got], exp))
        if name == "cosine":
            return Op("query.cosine", run, lambda got: _close_topk(
                [(i + 1, v, float(c)) for i, (v, c) in enumerate(got)], exp))
        return Op(f"query.{name}", run, lambda got: row_digest(
            tuple(_norm(v) for v in r) for r in got) == exp)


WORKLOADS = {"commit_mix": CommitMix, "scan_analytics": ScanAnalytics}
