"""The closed-loop workloads ``query`` and ``maintain``.

Both set up by building an encoded store with the deployment one-shot
build (the body of ``pipeline_job --format encoded``), ``SETUP_REPS``
times; those builds give the construction metrics (``build_*``). The
timed loop then runs the workload's ops.

Inputs come from the seed alone: numpy-generated events become
conversation turns by the rules of ``jena_spark.data.transcripts``,
copied once per replica under seed-salted ``conv_id``s and committed
as lite Iceberg tables. The seed also picks the maintain batch split,
the ``set_ops`` halves, the SPARQL constants and the conversations
read back after each commit.

Every workload reports the same end-to-end metric names (``E2E_UNITS``);
``NOTES.md`` maps them to the workload-specific names.
"""

from __future__ import annotations

import glob
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from layers import SHAPE_LAYER


E2E_UNITS = {
    "setup_s": "s",
    "build_first_s": "s",
    "build_s_p50": "s",
    "build_rows_per_s": "1/s",
    "first_s": "s",
    "op_s_p50": "s",
    "op_s_p90": "s",
    "rows_per_s": "1/s",
    "read_s_p50": "s",
    "peak_rss_mb": "MB",
}

N_EVENTS = 5_000  # turns per replica
N_USERS = 75  # ~67 events per user, as in the repository's sf0.1 events
N_BUCKETS = 4
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
READS_PER_OP = 2
SETUP_REPS = 2


def quantile(values: list[float], q: float) -> float:
    """Inclusive-method quantile (q in (0, 1)); the value itself for one."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def checksum(df: DataFrame) -> tuple[int, int]:
    """(rows, bit_xor of xxhash64 over every column as a string): an
    order-free fingerprint that does not overflow under ANSI mode."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in sorted(df.columns)]
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.bit_xor(F.xxhash64(*cols)).alias("x")).collect()[0]
    return int(r["n"]), int(r["x"] or 0)


def force(df: DataFrame) -> int:
    """Run ``df`` to completion into the noop sink; return its row count."""
    obs = Observation("n")
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop") \
        .mode("overwrite").save()
    return int(obs.get["n"])


def store_files(path: str) -> tuple[int, int]:
    """(parquet bytes, parquet files) under a committed table dir."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


def read_store(spark, path: str) -> DataFrame:
    """A committed ``resume_or_write`` table without its bucket column."""
    return spark.read.parquet(path).drop("part_id")


class Workload:
    """Setup (timed, repeated), a timed closed loop of ops with output
    checks, references, and under ``--trace 1`` a layer pass."""

    min_ops = 3
    max_ops = 1000

    def __init__(self, bench, seed: int):
        self.b = bench
        self.spark = bench.spark
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.salt = f"{self.rng.integers(1 << 32):08x}"
        self.checks: dict[str, int] = {}
        self.layer: dict[str, float] = {}

    # -- inputs ---------------------------------------------------------

    def transcripts(self, replicas: list[int]) -> pd.DataFrame:
        """The seed's conversation turns, once per replica, as the
        repository's ``events`` -> transcripts derivation makes them
        (``data/transcripts.py``): one conversation per user and day,
        turns ordered by (ts, event_id), role and tool from the event
        type, text with 0-2 planted gazetteer surfaces. Conversation ids
        carry the seed's salt and the replica:
        ``conv-<user>-d<yyyymmdd>-<salt>-r<k>``."""
        from jena_spark.data.transcripts import SAFE_SURFACES

        rng = np.random.default_rng(self.seed)
        n = N_EVENTS
        eid = np.arange(n, dtype=np.int64)
        start = np.datetime64("2024-01-01T00:00:00", "us")
        ts = start + rng.integers(0, 30 * 86400 * 10**6, n).astype("timedelta64[us]")
        user = rng.integers(0, N_USERS, n)
        etype = rng.choice(EVENT_TYPES, n)
        surf = pd.Series(SAFE_SURFACES)
        planted = eid % 5 != 0
        s1 = " we discussed " + surf[eid % len(surf)].to_numpy() + " earlier"
        s2 = " and also " + surf[(eid * 7 + 3) % len(surf)].to_numpy()
        etype = pd.Series(etype)
        base = pd.DataFrame({
            "conv": "conv-" + pd.Series(user).astype(str) + "-d"
                    + pd.Series(pd.to_datetime(ts).strftime("%Y%m%d")),
            "eid": eid, "ts": ts,
            "role": np.select([etype.isin(["click", "view"]),
                               etype.isin(["signup", "purchase"])],
                              ["user", "assistant"], "tool"),
            "text": "note " + etype + pd.Series(s1).where(planted, "")
                    + pd.Series(s2).where(planted & (eid % 3 == 0), "")
                    + " k" + pd.Series(eid % 100).astype(str),
            "tool": pd.Series(np.where(eid % 2 == 0, "python", "sql")).where(
                etype == "error", None),
        }).sort_values(["conv", "ts", "eid"])
        base["turn_idx"] = base.groupby("conv").cumcount().astype(np.int32)
        return pd.concat([
            base.assign(conv_id=base["conv"] + f"-{self.salt}-r{k}")
            [["conv_id", "turn_idx", "role", "text", "tool", "ts"]]
            for k in replicas], ignore_index=True)

    def commit_transcripts(self, turns: pd.DataFrame, path: str) -> str:
        """Commit generated turns as a lite Iceberg table."""
        from pyspark.sql import types as T

        from jena_spark.schemas import TRANSCRIPTS_SCHEMA

        extra = [c for c in turns.columns if c not in TRANSCRIPTS_SCHEMA.fieldNames()]
        schema = T.StructType(TRANSCRIPTS_SCHEMA.fields + [
            T.StructField(c, T.IntegerType(), False) for c in extra])
        return self.commit_table(self.spark.createDataFrame(turns, schema), path)

    def commit_table(self, df: DataFrame, path: str) -> str:
        from jena_spark.sources.iceberg import append_table

        append_table(df, path)
        return path

    def read_table(self, path: str) -> DataFrame:
        from jena_spark.sources.iceberg import read_table

        with self.b.span("sources.iceberg"):
            return read_table(self.spark, path)

    def commit_store(self, triples_enc: DataFrame, node_dict: DataFrame,
                     out: str, concurrent: bool) -> int:
        """``resume_or_write`` both tables (as ``pipeline_job`` does:
        two sink threads for a one-shot build, in turn for a fold);
        return the committed triple count."""
        from jena_spark.pipeline.materialize import resume_or_write

        def write(df, name, key):
            with self.b.span("pipeline.materialize"):
                return resume_or_write(df, f"{out}/{name}", name, N_BUCKETS, key=key)

        with self.b.span("pipeline.materialize.write_s", group=False):
            if concurrent:
                with ThreadPoolExecutor(2) as pool:
                    f_t = pool.submit(write, triples_enc, "triples_enc", "conv_id")
                    f_n = pool.submit(write, node_dict, "node_dict", "val")
                    r_t, _ = f_t.result(), f_n.result()
            else:
                r_t = write(triples_enc, "triples_enc", "conv_id")
                write(node_dict, "node_dict", "val")
        size, files = store_files(out)
        self.layer["pipeline.materialize.bytes_written"] = size
        self.layer["pipeline.materialize.files_written"] = files
        return int(r_t.counters["rows_out"])

    def build(self, table: str, out: str) -> int:
        """One one-shot build of ``table``'s transcripts into ``out``,
        timed from the table read to both commits."""
        from jena_spark.pipeline.encoded import construct_canonical_encoded

        self.b.assert_clean()
        t0 = time.perf_counter()
        tr = self.read_table(table)
        with self.b.span("pipeline.encoded.construct"):
            t, n = construct_canonical_encoded(tr)
        rows = self.commit_store(t, n, out, concurrent=True)
        self.b.record("build_s", time.perf_counter() - t0)
        self.b.record("build_rows", rows)
        return rows

    def pick_convs(self, turns: pd.DataFrame, k: int) -> dict[str, int]:
        """Seed-chosen conversations of generated ``turns`` -> their
        turn counts."""
        counts = turns.groupby("conv_id").size().sort_index()
        idx = sorted(self.rng.choice(len(counts), size=k, replace=False))
        return {counts.index[i]: int(counts.iloc[i]) for i in idx}

    def point_reads(self, store: str, convs: dict[str, int]) -> bool:
        """Read-after-commit: ``find_encoded`` by conversation subject on
        the committed id table; each must see the conversation's turns."""
        from jena_spark import terms as TM
        from jena_spark.pipeline.encode import find_encoded

        ok = True
        for conv, turns in convs.items():
            t0 = time.perf_counter()
            with self.b.span("pipeline.encode.find"):
                n = find_encoded(read_store(self.spark, f"{store}/triples_enc"),
                                 s=("iri", TM.conv_iri(conv))).count()
            self.b.record("read_s", time.perf_counter() - t0)
            ok &= self.b.check(f"read {conv}", n, turns)
        return ok

    # -- references -----------------------------------------------------

    def duck(self):
        """An in-memory DuckDB connection (a context manager)."""
        return duckdb.connect(config={"threads": 4,
                                      "temp_directory": os.path.join(self.b.work, "tmp")})

    def duck_frame(self, con, sql: str) -> DataFrame:
        """A DuckDB result as a Spark frame of string columns."""
        pdf = con.execute(f"SELECT CAST(COLUMNS(*) AS VARCHAR) FROM ({sql})").df()
        pdf = pdf.astype(object).where(pdf.notna(), None)
        schema = ", ".join(f"`{c}` string" for c in pdf.columns)
        return self.spark.createDataFrame(pdf, schema)

    def check_store(self, con, transcripts_sql: str, store: str,
                    decoded: str | None = None) -> bool:
        """A committed encoded store (and, if given, its decoded table)
        against the canonical triples of ``transcripts_sql`` as the
        registry's ``kg_triples`` oracle computes them: the DuckDB
        mirror of ``canonicalize_triples(raw_triples(tr))`` with its
        ``transcripts`` CTE bound to the committed input tables. The ids
        must be ``encode_triples`` of those triples and the dictionary
        their ``node_dictionary``."""
        from jena_spark.data.transcripts import transcripts_cte
        from jena_spark.oracle.duck import triples_with
        from jena_spark.pipeline.encode import ENC_COLS, encode_triples, node_dictionary

        w, cte = triples_with(), transcripts_cte()
        if w.count(cte) != 1:
            raise ValueError("the oracle's transcripts CTE is not where it was")
        ref = self.duck_frame(
            con, w.replace(cte, transcripts_sql) + " SELECT * FROM triples").persist()
        want = [checksum(encode_triples(ref)), checksum(node_dictionary(ref))]
        got = [checksum(read_store(self.spark, f"{store}/triples_enc").select(*ENC_COLS)),
               checksum(read_store(self.spark, f"{store}/node_dict"))]
        if decoded is not None:
            want.append(checksum(ref))
            got.append(checksum(self.read_table_plain(decoded)))
        self.checks.update({"triples": want[0][0], "triples_xor": want[0][1],
                            "nodes": want[1][0], "nodes_xor": want[1][1]})
        ok = self.b.check(f"{store} == canonical triples of its inputs", got, want)
        self.b.clean()
        return ok

    # -- the run --------------------------------------------------------

    def run(self, seconds: float) -> tuple[dict, dict]:
        """Commit the seed's input tables, set up ``SETUP_REPS`` times
        from them (the last set-up is used), then run
        ops until ``seconds`` have passed and at least ``min_ops`` (and a
        whole round) are done; then check, and under tracing run the
        layer pass."""
        phase = self.phases = {}
        t0 = time.perf_counter()
        self.inputs(os.path.join(self.b.work, "inputs"))
        phase["inputs"] = time.perf_counter() - t0
        times = []
        for i in range(SETUP_REPS):
            self.b.clean()
            t0 = time.perf_counter()
            self.setup(os.path.join(self.b.work, f"setup{i}"))
            times.append(time.perf_counter() - t0)
        phase["setup"] = sum(times)
        t0 = time.perf_counter()
        self.b.clean()
        self.prepare()
        self.b.clean()
        phase["prepare"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        t_end = t0 + seconds
        done = 0
        while done < self.max_ops:
            self.b.run_op(lambda: self.op(done))
            done += 1
            if done >= self.min_ops and time.perf_counter() >= t_end and self.round_done(done):
                break
        phase["loop"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.verify()
        self.b.clean()
        phase["verify"] = time.perf_counter() - t0
        s = self.b.samples
        warm = s["build_s"][1:]
        e2e = {
            "setup_s": statistics.median(times),
            "build_first_s": s["build_s"][0],
            "build_s_p50": statistics.median(warm),
            "build_rows_per_s": statistics.median(
                n / t for n, t in zip(s["build_rows"][1:], warm)),
            **self.end_to_end(),
        }
        if self.b.trace:
            t0 = time.perf_counter()
            self.layer_pass()
            self.b.clean()
            phase["layer_pass"] = time.perf_counter() - t0
        return e2e, self.layer_metrics()

    def prepare(self) -> None:
        """References and seed choices made after set-up, untimed."""

    def round_done(self, n: int) -> bool:
        return True

    def layer_metrics(self) -> dict[str, float]:
        """Medians of the layer spans recorded in the timed loop, plus
        what the layer pass measured."""
        s, out = self.b.samples, dict(self.layer)
        spans = {"pipeline.materialize.write_s": "pipeline.materialize.write_s",
                 "pipeline.encode.find_encoded_s": "pipeline.encode.find",
                 "pipeline.encoded.fold_call_s": "pipeline.encoded.fold",
                 "queries.sparql.plan_s": "queries.sparql.plan"}
        for metric, span in spans.items():
            if s.get(span):
                out[metric] = statistics.median(s[span])
        return out

    # -- the forced-alone layer pass (traced runs) ----------------------

    def timed(self, group: str, fn):
        """(fn(), seconds) with fn's Spark jobs in job group ``group``."""
        with self.b.span(group):
            out = fn()
        return out, self.b.samples[group][-1]

    def layer_pass(self) -> None:
        """Each construction layer of a one-shot build of ``self.table``
        forced alone from an empty cache (reading, extraction, election,
        id triples, node dictionary), then decoding ``self.store_dir``."""
        from jena_spark.pipeline.canonicalize import present_rep_dim
        from jena_spark.pipeline.encode import decode_triples
        from jena_spark.pipeline.encoded import construct_canonical_encoded
        from jena_spark.pipeline.extract import extract_mentions

        b, L = self.b, self.layer

        def tr():
            return self.read_table_plain(self.table)

        _, L["sources.iceberg.read_s"] = self.timed("sources.iceberg", lambda: force(tr()))
        b.clean()
        mentions = extract_mentions(tr()).persist()
        L["pipeline.extract.rows"], L["pipeline.extract.busy_s"] = self.timed(
            "pipeline.extract", lambda: force(mentions))
        L["pipeline.canonicalize.surfaces"], L["pipeline.canonicalize.busy_s"] = self.timed(
            "pipeline.canonicalize", lambda: present_rep_dim(mentions).count())
        b.clean()
        L["pipeline.encoded.rows"], L["pipeline.encoded.busy_s"] = self.timed(
            "pipeline.encoded", lambda: force(construct_canonical_encoded(tr())[0]))
        b.clean()
        node_dict = construct_canonical_encoded(tr())[1]
        L["pipeline.encode.node_rows_out"], L["pipeline.encode.node_dict_s"] = self.timed(
            "pipeline.encode.node_dict", lambda: force(node_dict))
        b.clean()
        L["pipeline.encode.node_rows_in"] = self.dedup_input_rows(node_dict)
        L["pipeline.encode.dedup_ratio"] = (
            L["pipeline.encode.node_rows_out"] / L["pipeline.encode.node_rows_in"])
        b.clean()
        store = self.store_dir
        _, L["pipeline.encode.decode_s"] = self.timed("pipeline.encode.decode", lambda: force(
            decode_triples(read_store(self.spark, f"{store}/triples_enc"),
                           read_store(self.spark, f"{store}/node_dict"))))
        b.clean()

    def dedup_input_rows(self, node_dict: DataFrame) -> int:
        """Rows entering the dictionary's ``Deduplicate`` (the plan
        node ``dropDuplicates`` makes), counted outside the timed pass."""
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

        node = node_dict._jdf.queryExecution().logical()
        if node.nodeName() != "Deduplicate":
            raise RuntimeError(f"node dictionary plan root is {node.nodeName()}")
        ds = self.spark._jvm.org.apache.spark.sql.classic.Dataset
        return ClassicDataFrame(ds.ofRows(self.spark._jsparkSession, node.child()),
                                self.spark).count()

    def read_table_plain(self, path: str) -> DataFrame:
        from jena_spark.sources.iceberg import read_table

        return read_table(self.spark, path)


# --- query ------------------------------------------------------------------

def _turn_predicates() -> list[str]:
    """The predicates every turn carries exactly once."""
    from jena_spark import terms as TM

    return [TM.P_HAS_TURN, TM.P_TURN_INDEX, TM.P_ROLE, TM.P_TEXT, TM.P_TS]


def _triangle(t: DataFrame) -> DataFrame:
    """The fork's Tr1 cyclic BGP over the turn-level co-mention graph
    (same composition as the registry's ``kg_bgp_triangle``)."""
    from jena_spark import terms as TM
    from jena_spark.queries import algebra as A
    from jena_spark.queries.algebra import Var

    p_co = TM.NS_VOCAB + "coMentioned"
    m = A.bgp(t, [(Var("turn"), TM.P_MENTIONS, Var("e1")),
                  (Var("turn"), TM.P_MENTIONS, Var("e2"))])
    pairs = (A.flatten(A.project(m, "e1", "e2"), ["e1", "e2"])
             .where(F.col("e1") != F.col("e2")).distinct())
    edges = pairs.select(
        F.lit("iri").alias("s_kind"), F.col("e1").alias("s_val"),
        F.lit(p_co).alias("p_val"), F.lit("iri").alias("o_kind"),
        F.col("e2").alias("o_val"), F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
    ).localCheckpoint(eager=False)
    b = A.bgp(edges, [(Var("a"), p_co, Var("b")), (Var("b"), p_co, Var("c")),
                      (Var("c"), p_co, Var("a"))])
    b = A.filter_(b, (A.v("a") < A.v("b")) & (A.v("b") < A.v("c")))
    return A.flatten(A.project(b, "a", "b", "c"), ["a", "b", "c"])


def _star(t: DataFrame) -> DataFrame:
    from jena_spark import terms as TM
    from jena_spark.queries import algebra as A
    from jena_spark.queries.algebra import Var

    b = A.bgp(t, [(Var("conv"), TM.P_HAS_TURN, Var("turn")),
                  (Var("turn"), TM.P_ROLE, ("literal", "tool")),
                  (Var("turn"), TM.P_TOOL, Var("tool"))])
    return A.flatten(A.project(b, "conv", "tool"), ["conv", "tool"]).distinct()


class Query(Workload):
    """A fixed mix of 8 query shapes, run round-robin in a fixed order,
    over a store built in setup and read from its own table."""

    # the first execution of every shape, then two more rounds: 16 warm
    # latencies and 6 reads per run keep the medians steady
    min_ops = 24

    def inputs(self, d: str) -> None:
        turns = self.transcripts([0])
        self.table = self.commit_transcripts(turns, d)
        self.convs = self.pick_convs(turns, READS_PER_OP)

    def setup(self, d: str) -> None:
        from jena_spark.pipeline.encode import decode_triples

        self.enc = self.store_dir = os.path.join(d, "enc")
        self.build(self.table, self.enc)
        store = decode_triples(read_store(self.spark, f"{self.enc}/triples_enc"),
                               read_store(self.spark, f"{self.enc}/node_dict"))
        self.store = self.commit_table(store, os.path.join(d, "store"))

    def prepare(self) -> None:
        rng = self.rng
        self.order = list(SHAPE_LAYER)
        self.role = str(rng.choice(["user", "assistant"]))
        self.limit = int(rng.integers(300, 701))
        # halves of equal volume whatever the seed: two per-turn
        # predicates each, sharing one
        preds = [str(p) for p in rng.permutation(_turn_predicates())]
        self.half_a, self.half_b = preds[0:2], preds[1:3]
        with self.duck() as con:
            self.check_store(con, _select_turns(self.table), self.enc, decoded=self.store)
            self.refs = self.oracle_refs(con)
        self.checks.update({f"{k}.rows": v[0] for k, v in self.refs.items()})
        self.checks.update({f"{k}.xor": v[1] for k, v in self.refs.items()})

    # -- shapes and their DuckDB oracles ---------------------------------

    def sparql_select(self) -> str:
        from jena_spark import terms as TM

        return f"""
            PREFIX v: <{TM.NS_VOCAB}>
            SELECT DISTINCT ?turn ?e WHERE {{
              ?turn v:mentions ?e ; v:role "{self.role}" .
              FILTER(STRLEN(STR(?e)) > 10)
            }}
            ORDER BY ?e ?turn LIMIT {self.limit}"""

    def frames(self, name: str, t: DataFrame) -> list[DataFrame]:
        from jena_spark import terms as TM
        from jena_spark.queries import graph as G
        from jena_spark.queries import paths as P
        from jena_spark.queries.sparql import sparql_query

        if name == "find":
            return [G.find(t, p=TM.P_ROLE, o=("literal", "tool"))]
        if name == "subjects":
            return [G.subjects(t)]
        if name == "set_ops":
            a = t.where(F.col("p_val").isin(self.half_a))
            b = t.where(F.col("p_val").isin(self.half_b))
            return [G.union(a, b), G.intersection(a, b)]
        if name == "bgp_star":
            return [_star(t)]
        if name == "bgp_triangle":
            return [_triangle(t)]
        if name == "sparql_select":
            return [sparql_query(t, self.sparql_select())]
        if name == "sparql_path":
            return [sparql_query(t, f"""
                PREFIX v: <{TM.NS_VOCAB}>
                SELECT DISTINCT ?conv ?e WHERE {{ ?conv v:hasTurn/v:mentions ?e . }}""")]
        if name == "path_closure":
            return [P.one_or_more(P.alt(P.link(t, TM.P_HAS_TURN),
                                        P.link(t, TM.P_MENTIONS)))]
        raise ValueError(name)

    def oracle_sql(self) -> dict[str, list[str]]:
        """Each shape's registry oracle SQL, with ``triples`` left
        unbound, and the seed's constants substituted."""
        from jena_spark.oracle.duck import triples_with
        from jena_spark.queries.registry import ORACLES

        w = triples_with()
        wr = "WITH RECURSIVE" + w[len("WITH"):]

        def body(entry: str) -> str:
            sql = ORACLES[entry]
            prefix = wr if sql.startswith(wr) else w
            if not sql.startswith(prefix):
                raise ValueError(f"unexpected oracle prefix for {entry}")
            rest = sql[len(prefix):].strip()
            if rest.startswith(","):
                rest = ("WITH RECURSIVE " if prefix is wr else "WITH ") + rest[1:]
            return rest

        def sub(sql: str, old: str, new: str) -> str:
            if sql.count(old) != 1:
                raise ValueError(f"oracle text {old!r} not found once")
            return sql.replace(old, new)

        select = sub(sub(body("kg_sparql_select"), "r.o_val = 'user'",
                         f"r.o_val = '{self.role}'"), "LIMIT 500", f"LIMIT {self.limit}")
        half = "SELECT * FROM triples WHERE p_val IN ({})"
        a = half.format(", ".join(f"'{p}'" for p in self.half_a))
        b = half.format(", ".join(f"'{p}'" for p in self.half_b))
        return {
            "find": [body("kg_find_pattern")],
            "subjects": [body("kg_subjects")],
            "set_ops": [f"{a} UNION {b}", f"{a} INTERSECT {b}"],
            "bgp_star": [body("kg_bgp_star")],
            "bgp_triangle": [body("kg_bgp_triangle")],
            "sparql_select": [select],
            "sparql_path": [body("kg_sparql_path")],
            "path_closure": [body("kg_path_one_or_more")],
        }

    def oracle_refs(self, con) -> dict[str, tuple[int, int]]:
        """(rows, checksum) per shape from DuckDB with ``triples`` bound
        to the store table's files, hashed by the same expression as
        ``checksum`` in one Spark job: every result's columns, in
        ``checksum``'s order, become ``c0..`` of one keyed frame."""
        con.execute(f"CREATE VIEW triples AS SELECT * FROM {_parquet(self.store)}")
        parts, width = [], {}
        for name, sqls in self.oracle_sql().items():
            for i, sql in enumerate(sqls):
                pdf = con.execute(f"SELECT CAST(COLUMNS(*) AS VARCHAR) FROM ({sql})").df()
                cols = sorted(pdf.columns)
                width[(name, i)] = len(cols)
                parts.append(pdf[cols].set_axis([f"c{j}" for j in range(len(cols))], axis=1)
                             .assign(key=f"{name}/{i}"))
        wide = max(width.values())
        rows = pd.concat(parts, ignore_index=True).reindex(
            columns=["key"] + [f"c{j}" for j in range(wide)])
        rows = rows.astype(object).where(rows.notna(), None)
        df = self.spark.createDataFrame(
            rows, "key string, " + ", ".join(f"c{j} string" for j in range(wide)))
        hashed = None
        for (name, i), w in width.items():
            is_key = F.col("key") == f"{name}/{i}"
            h = F.xxhash64(*[F.coalesce(F.col(f"c{j}"), F.lit("\x00")) for j in range(w)])
            hashed = F.when(is_key, h) if hashed is None else hashed.when(is_key, h)
        got = {r["key"]: (int(r["n"]), int(r["x"] or 0)) for r in df.groupBy("key").agg(
            F.count(F.lit(1)).alias("n"), F.bit_xor(hashed).alias("x")).collect()}
        return {name: _combine([got.get(f"{name}/{i}", (0, 0)) for i in range(len(sqls))])
                for name, sqls in self.oracle_sql().items()}

    # -- ops --------------------------------------------------------------

    def op(self, k: int) -> bool:
        name = self.order[k % len(self.order)]
        span = f"{SHAPE_LAYER[name]}.{name}"
        t0 = time.perf_counter()
        t = self.read_table(self.store)
        if SHAPE_LAYER[name] == "queries.sparql":
            with self.b.span("queries.sparql.plan"):
                frames = self.frames(name, t)
            with self.b.span(span):
                got = _combine([checksum(f) for f in frames])
        else:
            with self.b.span(span):
                got = _combine([checksum(f) for f in self.frames(name, t)])
        self.b.record("latency_s", time.perf_counter() - t0)
        self.b.record("rows", got[0])
        ok = self.b.check(f"op {k} {name}", got, self.refs[name])
        if self.round_done(k + 1):
            ok &= self.point_reads(self.enc, self.convs)
        return ok

    def round_done(self, n: int) -> bool:
        return n % len(self.order) == 0

    def verify(self) -> None:
        """Each op was checked against its oracle as it ran."""

    def end_to_end(self) -> dict:
        s = self.b.samples
        n = len(self.order)
        first, warm = s["latency_s"][:n], s["latency_s"][n:]
        return {
            "first_s": sum(first),
            "op_s_p50": statistics.median(warm),
            "op_s_p90": quantile(warm, 0.9),
            "rows_per_s": sum(s["rows"][n:]) / sum(warm),
            "read_s_p50": statistics.median(s["read_s"]),
        }

    def named(self, e: dict) -> dict:
        return {**_construct_names(e),
                "query.first_s": e["first_s"],
                "query.latency_s_p50": e["op_s_p50"],
                "query.latency_s_p90": e["op_s_p90"],
                "query.read_s_p50": e["read_s_p50"]}

    def layer_metrics(self) -> dict[str, float]:
        out = super().layer_metrics()
        s = self.b.samples
        execs = []
        for name, layer in SHAPE_LAYER.items():
            warm = s[f"{layer}.{name}"][1:]
            out[f"{layer}.{name}.exec_s_p50"] = statistics.median(warm)
            if layer == "queries.sparql":
                execs += warm
        out["queries.sparql.exec_s"] = statistics.median(execs)
        return out


def _parquet(table: str) -> str:
    """DuckDB ``read_parquet`` over a lite Iceberg table's data files."""
    files = sorted(glob.glob(os.path.join(table, "data", "*", "*.parquet")))
    return f"read_parquet({files!r})"


def _select_turns(table: str) -> str:
    return f"SELECT conv_id, turn_idx, role, text, tool, ts FROM {_parquet(table)}"


def _construct_names(e: dict) -> dict:
    return {"construct.first_s": e["build_first_s"],
            "construct.build_s_p50": e["build_s_p50"],
            "construct.triples_per_s": e["build_rows_per_s"]}


def _combine(parts: list[tuple[int, int]]) -> tuple[int, int]:
    n, x = 0, 0
    for pn, px in parts:
        n, x = n + pn, x ^ px
    return n, x


# --- maintain ---------------------------------------------------------------

class Maintain(Workload):
    """Folds of new conversation batches into a committed encoded store,
    each committed as a new snapshot directory (the ``pipeline_job
    --append-from`` shape) and read back with ``find_encoded``."""

    batches_n = 4  # quarters of one held-out replica
    min_ops = 3
    max_ops = 4

    def __init__(self, bench, seed: int):
        super().__init__(bench, seed)
        self.quarters = [int(q) for q in self.rng.permutation(self.batches_n)]

    def inputs(self, d: str) -> None:
        self.base = self.commit_transcripts(self.transcripts([0]), os.path.join(d, "base"))
        held = self.transcripts([1])
        convs = held["conv_id"].unique()
        perm = np.random.default_rng([self.seed, 1]).permutation(len(convs))
        quarter = dict(zip(convs[perm], np.arange(len(convs), dtype=np.int32) % self.batches_n))
        held = held.assign(quarter=held["conv_id"].map(quarter))
        self.held = self.commit_transcripts(held, os.path.join(d, "held_out"))
        self.batch_convs = [
            self.pick_convs(held[held["quarter"] == q], READS_PER_OP) for q in self.quarters]

    def setup(self, d: str) -> None:
        self.snaps = [os.path.join(d, "snap0")]
        self.rows = [self.build(self.base, self.snaps[0])]

    def batch(self, k: int) -> DataFrame:
        """The k-th folded batch: a seed-chosen quarter of the held-out replica."""
        held = self.read_table(self.held)
        return held.where(F.col("quarter") == self.quarters[k]).drop("quarter")

    def op(self, k: int) -> bool:
        from jena_spark.pipeline.encoded import construct_incremental_encoded

        prev, out = self.snaps[-1], os.path.join(self.b.work, f"snap{k + 1}")
        t0 = time.perf_counter()
        batch = self.batch(k)
        with self.b.span("pipeline.encoded.fold"):
            t, n = construct_incremental_encoded(
                read_store(self.spark, f"{prev}/triples_enc"),
                read_store(self.spark, f"{prev}/node_dict"), batch)
        rows = self.commit_store(t, n, out, concurrent=False)
        dt = time.perf_counter() - t0
        new = rows - self.rows[-1]
        self.b.record("fold_s", dt)
        self.b.record("fold_rows_per_s", new / dt)
        self.b.record("write_amplification", rows / new)
        self.snaps.append(out)
        self.rows.append(rows)
        return self.point_reads(out, self.batch_convs[k])

    def verify(self) -> None:
        """The last snapshot equals the canonical store of base ∪ every
        folded batch (``check_store``); otherwise every fold failed. The
        ``query`` workload checks the one-shot build against the same
        reference, so this is incremental == one-shot."""
        folded = [self.quarters[k] for k in range(len(self.snaps) - 1)]
        turns = (f"{_select_turns(self.base)} UNION ALL {_select_turns(self.held)} "
                 f"WHERE quarter IN ({', '.join(map(str, folded))})")
        with self.duck() as con:
            ok = self.check_store(con, turns, self.snaps[-1])
        self.checks["folds"] = len(folded)
        if not ok:
            self.b.failed = self.b.attempted

    def end_to_end(self) -> dict:
        s = self.b.samples
        warm = s["fold_s"][1:]
        return {
            "first_s": s["fold_s"][0],
            "op_s_p50": statistics.median(warm),
            "op_s_p90": quantile(warm, 0.9),
            "rows_per_s": statistics.median(s["fold_rows_per_s"][1:]),
            "read_s_p50": statistics.median(s["read_s"]),
        }

    def named(self, e: dict) -> dict:
        return {**_construct_names(e),
                "maintain.first_s": e["first_s"],
                "maintain.fold_s_p50": e["op_s_p50"],
                "maintain.read_s_p50": e["read_s_p50"]}

    def layer_pass(self) -> None:
        self.layer["pipeline.encoded.write_amplification"] = statistics.median(
            self.b.samples["write_amplification"])
        self.table, self.store_dir = self.base, self.snaps[-1]
        super().layer_pass()


WORKLOADS = {"query": Query, "maintain": Maintain}
