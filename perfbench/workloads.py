"""The workloads: what one op does, its warm-up, and its output check.

Each workload drives the engine only through public entry points (registry
builders, ``file_cdc_source``/``decode_cdc_stream``/``start_upsert_sink``,
``knn_bruteforce``, ``cache.release_persisted``). An op returns its output;
the harness times the op, then checks the output untimed and counts the op
as failed if the check does not pass.

``data/sf0.1/`` holds byte-identical copies of the project's sf0.1 test
tables the workloads read (the seven warehouse tables the ``benefits_sql``
queries join, and ``embeddings``), so a run reads only files of its own
checkout. The seed drives what is done with them: the query order, the
perturbed query vectors and the CDC change stream.
"""

from __future__ import annotations

import decimal
import json
import os
import sys
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from tracing import Tracer

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")


def noop_write(df) -> None:
    """Materialize every output column and discard it (never ``count()``,
    which lets the optimizer prune computed columns)."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    ops_per_round = 1  # the timed loop stops only at a round boundary
    min_ops = 1  # ... and not before this many ops
    warmup_ops = 1
    read_every = 1  # the harness reads the workload's tables after every n-th op

    def __init__(self, seed: int, work: str, tracer: Tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.inputs: dict[str, str] = {}  # table -> parquet file the workload reads

    def start(self, spark) -> None:
        """Set-up that a user pays once per session (timed in ``setup_s``)."""
        self.spark = spark

    def warmup(self, i: int) -> None:
        self.op(i)

    def after_setup(self) -> int:
        """Untimed work between set-up and the timed loop: oracles and the
        checks of the warm-up outputs. Returns how many warm-up ops failed."""
        return 0

    def op(self, i: int):
        """Run op ``i`` and return its output."""
        raise NotImplementedError

    def check(self, i: int, out) -> bool:
        """Untimed check of op ``i``'s output; returns whether it passed."""
        return True

    def kind(self, i: int) -> str:
        """What op ``i`` runs; ``p50_s`` averages the kinds' medians."""
        return self.name

    def read_probe(self) -> float:
        """Seconds for a reader to scan the workload's lake tables in full."""
        t0 = time.perf_counter()
        for path in self.read_paths():
            noop_write(self.spark.read.parquet(path))
        return time.perf_counter() - t0

    def read_paths(self) -> list[str]:
        raise NotImplementedError

    def stop(self) -> None:
        pass


# --------------------------------------------------------------------------
# benefits_sql
# --------------------------------------------------------------------------


class _Collected:
    """An already collected result in the shape ``oracle_check.compare``
    reads: it calls ``toPandas()`` and relabels the frame it gets."""

    def __init__(self, pdf: pd.DataFrame):
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self._pdf.copy()


def fingerprint(pdf: pd.DataFrame) -> tuple:
    """Column names, dtypes and the multiset of row hashes: equal for two
    collections of the same result in any row order."""
    rows = np.sort(pd.util.hash_pandas_object(pdf, index=False).to_numpy())
    return tuple(pdf.columns), tuple(map(str, pdf.dtypes)), rows.tobytes()


class BenefitsSql(Workload):
    """A seeded shuffle of 8 registered analytics queries per round."""

    name = "benefits_sql"
    TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem", "events")
    QUERIES = (
        "flagship_benefits",
        "bu_salary_dashboard",
        "join_dim_snowflake",
        "multi_aggregate",
        "topk_group_count",
        "window_moving_avg",
        "asof_join",
        "tpch_q5_region_volume",
    )
    ops_per_round = len(QUERIES)
    min_ops = 2 * len(QUERIES)
    warmup_ops = len(QUERIES)
    read_every = 4
    # The oracle compare of these results runs over an eighth of their rows,
    # picked by key on both sides and rotated by the seed; all rows are
    # checked by count. A full compare costs ~10 s, most of it in these two
    # results (150 000 and 100 000 rows), and a benchmark pass runs this
    # workload 22 times within a fixed time budget.
    SAMPLE_KEY = {"flagship_benefits": "id_validate", "window_moving_avg": "event_id"}
    SAMPLE_PARTS = 8

    def __init__(self, *args):
        super().__init__(*args)
        self.inputs = {t: os.path.join(SF_DIR, f"{t}.parquet") for t in self.TABLES}
        self._rng = np.random.default_rng([self.seed, 1])
        self._rounds: list[list[str]] = []
        self._warm: dict[str, pd.DataFrame] = {}
        self._expected: dict[str, tuple | None] = {}  # None: the oracle check failed

    def kind(self, i: int) -> str:
        while len(self._rounds) <= i // self.ops_per_round:
            self._rounds.append([self.QUERIES[j] for j in self._rng.permutation(len(self.QUERIES))])
        return self._rounds[i // self.ops_per_round][i % self.ops_per_round]

    def start(self, spark) -> None:
        super().start(spark)
        from full_data_infrastructure_spark import queries as registry

        self.builders = registry.queries()

    def warmup(self, i: int) -> None:
        """One round in registry order, each result kept for the oracle."""
        self._warm[self.QUERIES[i]] = self._run(self.QUERIES[i])

    def after_setup(self) -> int:
        """Each warm-up result against its DuckDB oracle, with
        ``tests/oracle_check.compare`` (on a seeded part of the rows for the
        ``SAMPLE_KEY`` queries); a result that passes becomes the reference
        every timed op of that query is checked against."""
        import duckdb

        from full_data_infrastructure_spark import queries as registry
        from tests.oracle_check import compare

        oracles = registry.oracle_sql()
        con = duckdb.connect()
        try:
            for table, path in self.inputs.items():
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
            for name, pdf in self._warm.items():
                ok, msg = self._compare(con, compare, oracles[name], name, pdf)
                self._expected[name] = fingerprint(pdf) if ok else None
                if not ok:
                    print(f"# check failed: {name}: {msg}", file=sys.stderr)
        finally:
            con.close()
        self._warm.clear()  # live_mb measures what the engine holds, not this
        return sum(fp is None for fp in self._expected.values())

    def _compare(self, con, compare, sql: str, name: str, pdf: pd.DataFrame) -> tuple[bool, str]:
        key = self.SAMPLE_KEY.get(name, "")
        if key in pdf.columns:  # else the full compare reports the schema
            rows = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            if len(pdf) != rows:
                return False, f"row count mismatch: spark={len(pdf)} duckdb={rows}"
            part = self.seed % self.SAMPLE_PARTS
            sql = f"SELECT * FROM ({sql}) WHERE {key} % {self.SAMPLE_PARTS} = {part}"
            pdf = pdf[pdf[key] % self.SAMPLE_PARTS == part]
        return compare(_Collected(pdf), con.sql(sql))

    def _run(self, name: str) -> pd.DataFrame:
        """Build the query and collect every output column, as a dashboard
        does."""
        with self.tracer.span("queries.build"):
            df = self.builders[name](self.spark, SF_DIR)
        return df.toPandas()

    def op(self, i: int) -> pd.DataFrame:
        return self._run(self.kind(i))

    def check(self, i: int, out) -> bool:
        name = self.kind(i)
        expected = self._expected[name]
        if expected is None:
            return False
        if fingerprint(out) != expected:
            print(f"# check failed: {name}: op {i} differs from its oracle-checked "
                  f"result ({len(out)} rows)", file=sys.stderr)
            return False
        return True

    def read_paths(self) -> list[str]:
        """All seven tables: the median scan of ``lineitem`` alone spread by
        0.19-0.29 of its median over five seeds, that of the seven tables
        by 0.12-0.19."""
        return list(self.inputs.values())


# --------------------------------------------------------------------------
# cdc_upsert
# --------------------------------------------------------------------------


class CdcUpsert(Workload):
    """Debezium change files landed one per op into a running upsert sink."""

    name = "cdc_upsert"
    KEYS = 15_000
    BATCH = 2_000
    ZIPF_S = 1.1
    OPS = ("c", "u", "d")
    OP_P = (0.25, 0.60, 0.15)
    # The initial snapshot load plus five change batches: an op's latency
    # falls from ~5 s to ~0.75 s over them as the JIT compiles, then keeps
    # falling slowly (~0.6 s after two dozen).
    warmup_ops = 6
    min_ops = 5

    def __init__(self, *args):
        super().__init__(*args)
        self._rng = np.random.default_rng([self.seed, 2])
        self._key_of_rank = self._rng.permutation(self.KEYS)
        p = 1.0 / np.arange(1, self.KEYS + 1) ** self.ZIPF_S
        self._key_p = p / p.sum()
        self.state: dict[int, tuple] = {}
        self._ts_ms = 1_700_000_000_000
        self._files = 0
        root = os.path.join(self.work, "cdc")
        self.inbox = os.path.join(root, "inbox")
        self.staging = os.path.join(root, "staging")
        self.snapshot = os.path.join(root, "snapshot")
        self.checkpoint = os.path.join(root, "checkpoint")
        os.makedirs(self.inbox)
        os.makedirs(self.staging)
        self.change_bytes: list[int] = []
        self._snapshot = None  # the last read of the snapshot, as Arrow
        self.query = None
        self._seen_batch = -1

    # --- the change generator and its expected state ---

    def _envelope(self, op: str, key: int) -> str:
        self._ts_ms += 1
        if op == "d":
            before, after = {"id": key, **self._image(self.state.pop(key, None), key)}, None
        else:
            amount = round(float(self._rng.integers(0, 1_000_000)) / 100.0, 2)
            row = (f"user-{key}", amount, self._ts_ms)
            self.state[key] = row
            before, after = None, {"id": key, **self._image(row, key)}
        value = json.dumps(
            {"payload": {"before": before, "after": after, "op": op, "ts_ms": self._ts_ms}}
        )
        return json.dumps({"key": str(key), "value": value}) + "\n"

    @staticmethod
    def _image(row, key):
        if row is None:
            return {"name": f"user-{key}", "amount": 0.0, "version": 0}
        return {"name": row[0], "amount": row[1], "version": row[2]}

    def _land(self, lines: list[str]) -> None:
        """Write one change file (a Kafka-like key/value record per line) and
        move it into the watched directory in one rename, so the source
        never lists a partial file."""
        name = f"changes-{self._files:06d}.json"
        self._files += 1
        staged = os.path.join(self.staging, name)
        body = "".join(lines)
        with open(staged, "w") as fh:
            fh.write(body)
        self.change_bytes.append(len(body.encode()))
        os.rename(staged, os.path.join(self.inbox, name))

    def _next_batch(self, initial: bool) -> None:
        if initial:
            lines = [self._envelope("r", int(k)) for k in range(self.KEYS)]
        else:
            ranks = self._rng.choice(self.KEYS, self.BATCH, p=self._key_p)
            ops = self._rng.choice(len(self.OPS), self.BATCH, p=self.OP_P)
            lines = [
                self._envelope(self.OPS[o], int(self._key_of_rank[r]))
                for r, o in zip(ranks, ops)
            ]
        self._land(lines)

    # --- the workload ---

    def start(self, spark) -> None:
        super().start(spark)
        from pyspark.sql import types as T

        from full_data_infrastructure_spark.streaming.cdc import (
            decode_cdc_stream,
            file_cdc_source,
        )
        from full_data_infrastructure_spark.streaming.sinks import start_upsert_sink

        after = T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("amount", T.DoubleType()),
            T.StructField("version", T.LongType()),
        ])
        decoded = decode_cdc_stream(
            file_cdc_source(spark, self.inbox), after, keep_ops=("c", "r", "u", "d")
        )
        self.query = start_upsert_sink(
            decoded, self.snapshot, self.checkpoint, key="id", order_col="ts_ms"
        )

    def warmup(self, i: int) -> None:
        self._next_batch(initial=i == 0)
        self.query.processAllAvailable()

    def after_setup(self) -> int:
        return 0 if self._snapshot_matches() else self.warmup_ops

    def op(self, i: int) -> None:
        self._next_batch(initial=False)
        self.query.processAllAvailable()

    def check(self, i: int, out) -> bool:
        """The harness has read the snapshot (``read_probe``) since the op."""
        if self.tracer.enabled:
            self._record_progress()
        return self._snapshot_matches()

    def read_probe(self) -> float:
        """Read the whole snapshot as a reader would, into Arrow."""
        t0 = time.perf_counter()
        self._snapshot = self.spark.read.parquet(self.snapshot).toArrow()
        return time.perf_counter() - t0

    def _snapshot_matches(self) -> bool:
        """Compare the last snapshot read with the generator's state: the
        live-row count, then every row."""
        table = self._snapshot
        if table.num_rows != len(self.state):
            print(f"# check failed: snapshot has {table.num_rows} rows, "
                  f"expected {len(self.state)}", file=sys.stderr)
            return False
        cols = table.to_pydict()
        got = {
            k: (n, a, v)
            for k, n, a, v in zip(cols["id"], cols["name"], cols["amount"], cols["version"])
        }
        if got != self.state:
            print("# check failed: snapshot rows differ from the change log", file=sys.stderr)
            return False
        return True

    def _record_progress(self) -> None:
        op = self.tracer.ops[-1]
        for p in self.query.recentProgress:
            if p.batchId <= self._seen_batch:
                continue
            self._seen_batch = p.batchId
            d = p.durationMs
            for counter, parts in (  # seconds per op, by part of the trigger
                ("streaming.trigger", ("triggerExecution",)),
                ("streaming.add_batch", ("addBatch",)),
                ("streaming.planning", ("queryPlanning",)),
                ("streaming.source", ("getBatch", "latestOffset")),
                ("streaming.commit", ("walCommit", "commitOffsets")),
            ):
                op.counters[counter] += sum(d.get(k, 0) for k in parts) / 1e3
            op.counters["streaming.input_rows"] += p.numInputRows
        files = [f for f in os.listdir(self.snapshot) if f.endswith(".parquet")]
        op.counters["streaming.snapshot_files"] = len(files)
        op.counters["streaming.snapshot_bytes"] = sum(
            os.path.getsize(os.path.join(self.snapshot, f)) for f in files
        )
        op.counters["streaming.change_bytes"] = self.change_bytes[-1]

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()


# --------------------------------------------------------------------------
# vector_search
# --------------------------------------------------------------------------


def _round_half_up(x: float, places: int) -> float:
    """Spark's ``round`` on a double: HALF_UP on its shortest decimal form."""
    q = decimal.Decimal(1).scaleb(-places)
    return float(decimal.Decimal(repr(x)).quantize(q, rounding=decimal.ROUND_HALF_UP))


def exact_topk(queries: np.ndarray, corpus: np.ndarray, k: int) -> list[list[tuple[int, float]]]:
    """Cosine top-k per query with the operator's arithmetic: left-to-right
    double folds for dot products and norms, the score rounded to 4 places,
    ties broken by the smaller ``vec_id``."""
    dot = np.zeros((len(queries), len(corpus)))
    for d in range(queries.shape[1]):
        dot = dot + queries[:, d, None] * corpus[None, :, d]
    nq = np.zeros(len(queries))
    nc = np.zeros(len(corpus))
    for d in range(queries.shape[1]):
        nq = nq + queries[:, d] * queries[:, d]
        nc = nc + corpus[:, d] * corpus[:, d]
    cos = dot / (np.sqrt(nq)[:, None] * np.sqrt(nc)[None, :])
    result = []
    for row in cos:
        # Only scores within a rounding step of the k-th can rank in the top k.
        kth = np.partition(row, len(row) - k)[len(row) - k]
        cand = np.flatnonzero(row >= kth - 1e-4)
        scored = sorted((-_round_half_up(float(row[j]), 4), int(j)) for j in cand)
        result.append([(j, -s) for s, j in scored[:k]])
    return result


class VectorSearch(Workload):
    """Exact top-k for a batch of perturbed sf0.1 vectors, collected."""

    name = "vector_search"
    N_QUERIES = 32
    NOISE = 0.05
    QUERY_ID_BASE = 1_000_000  # query ids never equal a corpus vec_id
    # An op's latency falls from ~6.5 s to ~1 s over the warm-up ops, then
    # slowly (~0.85 s after two dozen).
    warmup_ops = 6
    min_ops = 5

    def __init__(self, *args):
        super().__init__(*args)
        self.inputs = {"embeddings": os.path.join(SF_DIR, "embeddings.parquet")}
        table = pq.read_table(self.inputs["embeddings"])
        if table["vec_id"].to_pylist() != list(range(len(table))):
            raise ValueError("embeddings: vec_id must be 0..n-1 in row order")
        self.vectors = np.stack(table["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
        self._queries: dict[int, np.ndarray] = {}  # op -> its query vectors, until checked
        self._warm: list[tuple[int, list]] = []

    def start(self, spark) -> None:
        super().start(spark)
        from full_data_infrastructure_spark.operators import similarity

        self.similarity = similarity

    def _query_vectors(self, i: int) -> np.ndarray:
        rng = np.random.default_rng([self.seed, 4, i + 1000])
        idx = rng.choice(len(self.vectors), self.N_QUERIES, replace=False)
        return self.vectors[idx] + rng.normal(0.0, self.NOISE, (self.N_QUERIES, self.vectors.shape[1]))

    def op(self, i: int) -> list:
        from pyspark.sql import functions as F

        from full_data_infrastructure_spark.sources.parquet import load_table

        queries = self._queries[i] = self._query_vectors(i)
        with self.tracer.span("similarity.build"):
            emb = load_table(self.spark, SF_DIR, "embeddings").select(
                "vec_id", F.col("embedding").cast("array<double>").alias("e")
            )
            q = self.spark.createDataFrame(
                [(self.QUERY_ID_BASE + j, v.tolist()) for j, v in enumerate(queries)],
                "vec_id bigint, e array<double>",
            )
            df = self.similarity.knn_bruteforce(emb, q)
        with self.tracer.span("similarity.exec"):
            rows = df.collect()
        self.tracer.count("similarity.pairs_scored", len(queries) * len(self.vectors))
        return rows

    def warmup(self, i: int) -> None:
        self._warm.append((-1 - i, self.op(-1 - i)))

    def after_setup(self) -> int:
        failed = sum(not self.check(i, rows) for i, rows in self._warm)
        self._warm.clear()
        return failed

    def check(self, i: int, out) -> bool:
        k = self.similarity.TOP_K
        want = {
            (self.QUERY_ID_BASE + q, j, cos, r + 1)
            for q, top in enumerate(exact_topk(self._queries.pop(i), self.vectors, k))
            for r, (j, cos) in enumerate(top)
        }
        got = {(r["query_id"], r["neighbor_id"], r["cos"], r["rnk"]) for r in out}
        if got != want:
            print(f"# check failed: knn_bruteforce: {len(got ^ want)} rows differ",
                  file=sys.stderr)
        return got == want

    def read_paths(self) -> list[str]:
        return [self.inputs["embeddings"]]


WORKLOADS = {w.name: w for w in (BenefitsSql, CdcUpsert, VectorSearch)}
