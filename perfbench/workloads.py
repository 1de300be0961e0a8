"""The closed-loop workloads.

Each workload builds its tables from seeded inputs (``build``), then
hands out decks of operations (``deck``). A deck holds a fixed list of
op types in a fixed order, with seeded parameters, so every run
measures the same mix. Every deck runs on freshly built tables. An op
is prepared untimed (``prep``), timed (``run``) and checked untimed
(``check``, which returns an error string or None). ``checks`` runs
after every deck and checks the tables the deck left behind.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Callable, Optional

import numpy as np
import pandas as pd
import pyarrow as pa

import gen


@dataclass
class Op:
    kind: str
    run: Callable[[], object]
    prep: Optional[Callable[[], None]] = None
    check: Optional[Callable[[object], Optional[str]]] = None
    elapsed: float = 0.0        # set by the loop before check runs


@dataclass
class Ctx:
    spark: object
    seed: int
    work: str
    tracer: object = None
    rng: np.random.Generator = field(init=False)

    def __post_init__(self):
        self.rng = np.random.default_rng(self.seed)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def collect(self, df):
        with self.span("spark.action"):
            return df.collect()


def _dir_sizes(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


def _rows(pdf: pd.DataFrame, cols: list[str]) -> list[tuple]:
    return sorted(pdf[cols].itertuples(index=False, name=None))


ORDERS_DDL = ("o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double, o_orderdate timestamp, o_orderpriority string")
ORDERS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"]


# ======================================================== ingest_dml ===

class IngestDML:
    """Bronze appends drained by a stream into a mirror, and upserts,
    deletes and updates on a copy-on-write silver table and on a
    deletion-vector copy that receives the identical op stream."""

    name = "ingest_dml"
    N_ORDERS = 20_000
    RANGE_FILES = 16
    APPEND_ROWS = 2_000
    WINDOW_KEYS = 2_000         # rows in each DELETE/UPDATE key range
    DECK_S = 17.0               # nominal deck wall time with build and checks, 4 cores
    # both silver tables checkpoint every 3 commits: on the warm-up
    # deck's UPDATE (which warms the checkpoint path) and on a measured
    # deck's second MERGE
    TABLE_CONF = {"delta.checkpointInterval": "3"}

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        rng = ctx.rng
        # the silver tables start as a seeded sample of the orders table;
        # keys outside it are handed out, in seeded order, to MERGE inserts
        self.orders = gen.table("orders").select(ORDERS_COLS)
        keys = self.orders.column("o_orderkey").to_numpy()
        pick = np.sort(rng.choice(len(keys), self.N_ORDERS, replace=False))
        silver = self.orders.take(pick)
        self.raw = gen.write_parquet(silver, os.path.join(ctx.work, "raw", "orders.parquet"))
        self.initial = self._pdf(silver)
        self.free_keys = list(rng.permutation(np.setdiff1d(keys, keys[pick])))
        self.priorities = sorted(set(self.orders.column("o_orderpriority").to_pylist()))
        self.bytes_added = 0
        self.rows_changed = 0

    def build(self, rep: int) -> None:
        from delta_spark.io import write_delta

        spark = self.ctx.spark
        base = os.path.join(self.ctx.work, f"tables{rep}")
        shutil.rmtree(base, ignore_errors=True)
        self.cow = os.path.join(base, "silver_cow")
        self.dv = os.path.join(base, "silver_dv")
        self.bronze = os.path.join(base, "bronze")
        self.mirror = os.path.join(base, "mirror")
        self.ckpt = os.path.join(base, "_stream_checkpoint")
        src = spark.read.parquet(self.raw).repartitionByRange(self.RANGE_FILES, "o_orderkey")
        write_delta(src, self.cow, configuration=dict(self.TABLE_CONF))
        write_delta(src, self.dv, configuration={
            **self.TABLE_CONF, "delta.enableDeletionVectors": "true"})
        write_delta(self._orders_df(self._bronze_rows())[0], self.bronze)
        # a build starts the op stream and its model afresh
        self.model = self.initial
        self.stream_pending = self.APPEND_ROWS
        self.last_stream_version = None
        if rep > 0:
            shutil.rmtree(os.path.join(self.ctx.work, f"tables{rep - 1}"),
                          ignore_errors=True)

    def _bronze_rows(self):
        """APPEND_ROWS orders rows drawn from the whole table."""
        n = self.orders.num_rows
        return self.orders.take(self.ctx.rng.choice(n, self.APPEND_ROWS, replace=False))

    def _rows_for(self, keys: np.ndarray):
        """Rows with the given keys and the other columns of randomly drawn
        orders rows: the new values a MERGE writes."""
        rows = self.orders.take(self.ctx.rng.integers(0, self.orders.num_rows, len(keys)))
        return rows.set_column(0, "o_orderkey", pa.array(keys, pa.int64()))

    @staticmethod
    def _pdf(tbl) -> pd.DataFrame:
        return tbl.to_pandas().set_index("o_orderkey", drop=False)

    def _orders_df(self, tbl):
        pdf = self._pdf(tbl)
        return self.ctx.spark.createDataFrame(pdf.reset_index(drop=True), ORDERS_DDL), pdf

    # ---- ops --------------------------------------------------------------

    def deck(self, warm: bool = False) -> list[Op]:
        """Two appends, a stream drain of them, and two MERGEs, a DELETE
        and an UPDATE on both silver tables, in a fixed order, so every
        deck commits the same op types at the same table versions (and a
        checkpoint lands on the same op). One MERGE source is 1-5.5% of
        the target with contiguous keys, the other 5.5-10% with scattered
        keys. The warm-up deck leaves out the second append and the
        scattered MERGE, which run the same code as the first."""
        logical = [("append",), ("append",), ("stream",), ("merge", 0.01, False),
                   ("delete",), ("merge", 0.055, True), ("update",)]
        if warm:
            logical = [logical[i] for i in (0, 2, 3, 4, 6)]
        ops: list[Op] = []
        for kind, *args in logical:
            ops.extend(getattr(self, "_" + kind)(*args))
        return ops

    def _tracked(self, path: str, rows: Callable[[], int], run):
        """Run `run`, counting the bytes it adds under `path` and the rows
        the model says it changed."""
        state = {}

        def prep():
            state["before"] = _dir_sizes(path)

        def check(_):
            after = _dir_sizes(path)
            before = state["before"]
            self.bytes_added += sum(s for p, s in after.items()
                                    if before.get(p) != s)
            self.rows_changed += rows()
            return None
        return prep, check, run

    def _append(self) -> list[Op]:
        holder = {}

        def prep_df():
            holder["df"] = self._orders_df(self._bronze_rows())[0]

        def run():
            from delta_spark.io import write_delta
            return write_delta(holder["df"], self.bronze, mode="append")

        prep, check, run = self._tracked(self.bronze, lambda: self.APPEND_ROWS, run)

        def prep_all():
            prep_df()
            prep()

        def check_all(out):
            self.stream_pending += self.APPEND_ROWS
            return check(out)
        return [Op("append", run, prep_all, check_all)]

    def _stream(self) -> list[Op]:
        from delta_spark.streaming import read_stream, write_stream
        from delta_spark.table import DeltaTable

        spark = self.ctx.spark
        state = {}

        def run():
            q = write_stream(read_stream(spark, self.bronze), self.mirror, self.ckpt,
                             query_id="perfbench-mirror")
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))

        def rows():
            n, self.stream_pending = self.stream_pending, 0
            return n

        prep, check, run = self._tracked(self.mirror, rows, run)

        def prep_all():
            state["v"] = DeltaTable.forPath(spark, self.bronze).version
            prep()

        def check_all(out):
            self.last_stream_version = state["v"]
            return check(out)
        return [Op("stream", run, prep_all, check_all)]

    def _merge(self, lo: float, scattered: bool) -> list[Op]:
        """A source of lo..lo+4.5% of the target, 30-90% of it matched."""
        rng = self.ctx.rng
        keys = self.model.index.to_numpy()
        n_src = int(len(keys) * rng.uniform(lo, lo + 0.045))
        n_match = int(n_src * rng.uniform(0.3, 0.9))
        if scattered:                   # every range file touched
            matched = rng.choice(keys, size=n_match, replace=False)
        else:                           # contiguous: few range files touched
            start = int(rng.integers(0, len(keys) - n_match))
            matched = np.sort(keys)[start:start + n_match]
            self.upserted_from = start
        n_new = n_src - len(matched)
        new, self.free_keys = self.free_keys[:n_new], self.free_keys[n_new:]
        src_keys = np.concatenate([matched, np.array(new, dtype=np.int64)])
        src_df, src_pdf = self._orders_df(self._rows_for(src_keys))

        def call(dt):
            return (dt.merge(src_df, "target.o_orderkey = source.o_orderkey")
                    .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute())

        def apply(m):
            return pd.concat([m.drop(index=src_keys, errors="ignore"), src_pdf]), n_src
        cow, dv = self._dml_pair("merge", call, apply)
        dv.kind = "merge_dv"
        return [cow, dv]

    def _window(self, start: Optional[int] = None) -> tuple[int, int]:
        """A key range that holds WINDOW_KEYS rows of the table now, from
        the `start`-th key or from a seeded one."""
        keys = np.sort(self.model.index.to_numpy())
        if start is None:
            start = int(self.ctx.rng.integers(0, len(keys) - self.WINDOW_KEYS))
        i = min(start, len(keys) - self.WINDOW_KEYS)
        return int(keys[i]), int(keys[i + self.WINDOW_KEYS - 1])

    def _dml_pair(self, kind: str, call, apply) -> list[Op]:
        """The same DML on both silver tables. `apply(model)` returns the
        model after the op and the number of rows it changed; it runs
        when the copy-on-write op is checked, so it sees every earlier
        op of the deck."""
        n = {}

        def run_on(path):
            def run():
                from delta_spark.table import DeltaTable
                return call(DeltaTable.forPath(self.ctx.spark, path))
            return run

        def apply_model(out):
            self.model, n["rows"] = apply(self.model)
            return check_cow(out)

        prep_c, check_cow, run_c = self._tracked(self.cow, lambda: n["rows"],
                                                 run_on(self.cow))
        prep_d, check_dv, run_d = self._tracked(self.dv, lambda: n["rows"],
                                                run_on(self.dv))
        return [Op(kind, run_c, prep_c, apply_model),
                Op(kind, run_d, prep_d, check_dv)]

    def _delete(self) -> list[Op]:
        # the rows the contiguous MERGE just upserted: on the DV table the
        # DELETE always meets files that already carry a deletion vector
        a, b = self._window(self.upserted_from)
        prio = self.priorities[int(self.ctx.rng.integers(0, len(self.priorities)))]
        cond = f"o_orderkey BETWEEN {a} AND {b} AND o_orderpriority = '{prio}'"

        def apply(m):
            mask = m.o_orderkey.between(a, b) & (m.o_orderpriority == prio)
            return m[~mask], int(mask.sum())
        return self._dml_pair("delete", lambda dt: dt.delete(cond), apply)

    def _update(self) -> list[Op]:
        a, b = self._window()
        r = int(self.ctx.rng.integers(0, 5))
        cond = f"o_orderkey BETWEEN {a} AND {b} AND o_custkey % 5 = {r}"
        sets = {"o_totalprice": "o_totalprice + 100", "o_orderstatus": "'U'"}

        def apply(m):
            mask = m.o_orderkey.between(a, b) & (m.o_custkey % 5 == r)
            m = m.copy()
            m.loc[mask, "o_totalprice"] += 100
            m.loc[mask, "o_orderstatus"] = "U"
            return m, int(mask.sum())
        return self._dml_pair("update", lambda dt: dt.update(cond, sets), apply)

    # ---- checks -----------------------------------------------------------

    def _table_rows(self, path: str, version: Optional[int] = None) -> list[tuple]:
        from delta_spark.table import DeltaTable

        dt = DeltaTable.forPath(self.ctx.spark, path)
        df = dt.toDF() if version is None else dt.asOfVersion(version)
        return _rows(df.toPandas(), ORDERS_COLS)

    def checks(self) -> list[str]:
        errors = []
        cow = self._table_rows(self.cow)
        if cow != self._table_rows(self.dv):
            errors.append("copy-on-write and deletion-vector tables differ")
        if cow != _rows(self.model, ORDERS_COLS):
            errors.append("copy-on-write table differs from the DataFrame model")
        if self.last_stream_version is not None:
            if (self._table_rows(self.mirror)
                    != self._table_rows(self.bronze, self.last_stream_version)):
                errors.append("stream mirror differs from the bronze table")
        return errors

    def extras(self) -> dict:
        return {"write_bytes_per_row": self.bytes_added / max(1, self.rows_changed),
                "bytes_added": self.bytes_added, "rows_changed": self.rows_changed}


# ==================================================== dedup_pipeline ===

class DedupPipeline:
    """One ops.* call per op, on a fresh seeded sample of the documents
    or embeddings table with injected near-duplicates."""

    name = "dedup_pipeline"
    SAMPLE_DOCS, NEAR_COPIES, CASE_COPIES = 600, 8, 4
    SAMPLE_VECS = 750
    MIN_BASE_WORDS = 40         # near copies keep a J >= 0.5 with their base
    JACCARD_T, COSINE_T, SPAN_K = 0.5, 0.9, 8
    KINDS = ["minhash", "jaccard", "spans", "near_dups", "text"]
    DECK_S = 9.0                # nominal deck wall time with build, 4 cores

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        docs = gen.table("documents")
        # doc_id and vec_id run 0..n-1, so a list index is the id
        self.texts = docs.column("text").to_pylist()
        assert docs.column("doc_id").to_pylist() == list(range(len(self.texts)))
        self.vocab = np.array(sorted({w for t in self.texts for w in t.split()}), dtype=object)
        emb = gen.table("embeddings")
        self.vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
        assert emb.column("vec_id").to_pylist() == list(range(len(self.vecs)))
        self.next_id = 10_000_000
        self.live_frames = []

    def build(self, rep: int) -> None:
        from delta_spark.io import write_delta
        from delta_spark.table import DeltaTable

        spark = self.ctx.spark
        base = os.path.join(self.ctx.work, f"tables{rep}")
        shutil.rmtree(base, ignore_errors=True)
        self.docs_path = os.path.join(base, "documents")
        self.emb_path = os.path.join(base, "embeddings")
        write_delta(spark.read.parquet(os.path.join(gen.DATA, "documents.parquet"))
                    .repartitionByRange(8, "doc_id"), self.docs_path)
        write_delta(spark.read.parquet(os.path.join(gen.DATA, "embeddings.parquet"))
                    .repartitionByRange(4, "vec_id"), self.emb_path)
        if rep > 0:
            shutil.rmtree(os.path.join(self.ctx.work, f"tables{rep - 1}"),
                          ignore_errors=True)
        self.docs = DeltaTable.forPath(spark, self.docs_path)
        self.emb = DeltaTable.forPath(spark, self.emb_path)

    def deck(self, warm: bool = False) -> list[Op]:
        """One op of each kind, the warm-up deck too."""
        return [getattr(self, "_" + k)() for k in self.KINDS]

    # ---- samples -----------------------------------------------------------

    def _doc_sample(self):
        """A contiguous doc_id range read through the Delta table, plus
        injected rows: near copies (edits only in the second half, so
        the first half survives as shared 8-grams) and case/spacing
        copies (same fingerprint, different tokens)."""
        rng = self.ctx.rng
        n = self.SAMPLE_DOCS
        a = int(rng.integers(0, len(self.texts) - n))
        ids = list(range(a, a + n))
        texts = {i: self.texts[i] for i in ids}
        near, case = [], []
        long_ids = [i for i in ids if len(texts[i].split()) >= self.MIN_BASE_WORDS]
        for base in rng.choice(long_ids, self.NEAR_COPIES + self.CASE_COPIES, replace=False):
            base = int(base)
            nid, self.next_id = self.next_id, self.next_id + 1
            words = texts[base].split(" ")
            half = len(words) // 2
            if len(near) < self.NEAR_COPIES:
                tail = gen.near_copy(rng, self.vocab, " ".join(words[half:]), 2)
                texts[nid] = " ".join(words[:half]) + " " + tail
                near.append((base, nid))
            else:
                texts[nid] = "  ".join(texts[base].upper().split(" "))
                case.append((base, nid))
        injected = pd.DataFrame({"doc_id": [n for _, n in near + case],
                                 "text": [texts[n] for _, n in near + case]})
        pred = f"doc_id >= {a} AND doc_id < {a + n}"
        spark = self.ctx.spark
        inj_df = spark.createDataFrame(injected, "doc_id long, text string")
        return pred, inj_df, texts, near, case

    def _docs_df(self, pred, inj_df):
        return self.docs.toDF(pred).select("doc_id", "text").unionByName(inj_df)

    def _expected_pairs(self, texts: dict) -> dict:
        """Every pair at or above JACCARD_T. Such a pair shares a shingle,
        so the pairs that share one are all the candidates."""
        sh = {i: gen.shingle_set(t) for i, t in texts.items()}
        index: dict[str, list] = {}
        for i, s in sh.items():
            for g in s:
                index.setdefault(g, []).append(i)
        cands = set()
        for ids in index.values():
            ids = sorted(ids)
            cands.update((x, y) for k, x in enumerate(ids) for y in ids[k + 1:])
        out = {}
        for x, y in cands:
            j = gen.jaccard(sh[x], sh[y])
            if j >= self.JACCARD_T:
                out[(x, y)] = round(j, 6)
        return out

    def _pairs_op(self, kind: str, fn) -> Op:
        state = {}

        def prep():
            state["pred"], state["inj"], state["texts"], state["near"], _ = self._doc_sample()

        def run():
            pairs = fn(self._docs_df(state["pred"], state["inj"]))
            return self.ctx.collect(pairs.select("id_a", "id_b", "jaccard"))

        def check(rows):
            expect = self._expected_pairs(state["texts"])
            got = {(r.id_a, r.id_b): r.jaccard for r in rows}
            if kind == "jaccard":
                missing = set(expect) - set(got)
                if missing:
                    return f"jaccard_pairs missed {len(missing)} pairs"
            for pair, j in got.items():
                if pair not in expect or abs(expect[pair] - j) > 1e-6:
                    return f"{kind} reported {pair} below the threshold"
            for pair in state["near"]:
                if kind == "jaccard" and tuple(sorted(pair)) not in got:
                    return f"jaccard_pairs missed injected pair {pair}"
            return None
        return Op(kind, run, prep, check)

    def _minhash(self) -> Op:
        from delta_spark.ops import dedup
        return self._pairs_op("minhash", lambda df: dedup.minhash_lsh_pairs(
            df, threshold=self.JACCARD_T))

    def _jaccard(self) -> Op:
        from delta_spark.ops import dedup
        return self._pairs_op("jaccard", lambda df: dedup.jaccard_pairs(
            df, threshold=self.JACCARD_T))

    def _spans(self) -> Op:
        from delta_spark.ops import dedup
        state = {}

        def prep():
            state["pred"], state["inj"], state["texts"], state["near"], _ = self._doc_sample()

        def run():
            spans = dedup.duplicate_spans(self._docs_df(state["pred"], state["inj"]),
                                          k=self.SPAN_K)
            return self.ctx.collect(spans)

        def check(rows):
            ids = {r.id for r in rows}
            for base, copy in state["near"]:
                if base not in ids or copy not in ids:
                    return f"duplicate_spans missed injected pair {(base, copy)}"
            for r in rows:
                n = len(state["texts"][r.id].split())
                if not 1 <= r.span_start <= r.span_end <= n:
                    return f"duplicate_spans span out of range for doc {r.id}"
            return None
        return Op("spans", run, prep, check)

    def _text(self) -> Op:
        from delta_spark.ops import text as T
        from pyspark.sql import functions as F
        state = {}

        def prep():
            state["pred"], state["inj"], _, _, state["case"] = self._doc_sample()

        def run():
            df = self._docs_df(state["pred"], state["inj"])
            out = T.fingerprint(T.language_id(T.quality_score(T.text_stats(df))))
            return self.ctx.collect(out.select("doc_id", "fingerprint", "quality",
                                               F.col("lang_pred").isNotNull().alias("has_lang")))

        def check(rows):
            fp = {r.doc_id: r.fingerprint for r in rows}
            for base, copy in state["case"]:
                if fp.get(base) is None or fp.get(base) != fp.get(copy):
                    return f"fingerprint differs for case copy {(base, copy)}"
            if not all(0.0 <= r.quality <= 1.0 and r.has_lang for r in rows):
                return "quality_score or language_id out of range"
            return None
        return Op("text", run, prep, check)

    def _near_dups(self) -> Op:
        from delta_spark.ops import similarity
        rng = self.ctx.rng
        state = {}

        def prep():
            n = self.SAMPLE_VECS
            a = int(rng.integers(0, len(self.vecs) - n))
            vecs = {i: self.vecs[i] for i in range(a, a + n)}
            inj = []
            dim = self.vecs.shape[1]
            for base in rng.choice(list(vecs), self.NEAR_COPIES, replace=False):
                nid, self.next_id = self.next_id, self.next_id + 1
                v = vecs[int(base)]
                # per-coordinate noise of a quarter of the vector's scale:
                # cosine to the base is about 0.97
                noise = 0.25 * np.linalg.norm(v) / np.sqrt(dim) * rng.standard_normal(dim)
                vecs[nid] = (v + noise).astype(np.float32)
                inj.append(nid)
            pdf = pd.DataFrame({"vec_id": inj, "embedding": [vecs[i].tolist() for i in inj]})
            state["pred"] = f"vec_id >= {a} AND vec_id < {a + n}"
            state["inj"] = self.ctx.spark.createDataFrame(
                pdf, "vec_id long, embedding array<float>")
            state["vecs"] = vecs

        def run():
            corpus = (self.emb.toDF(state["pred"]).select("vec_id", "embedding")
                      .unionByName(state["inj"]))
            pairs = similarity.near_duplicates(corpus, threshold=self.COSINE_T,
                                               method="lsh")
            return self.ctx.collect(pairs.select("id_a", "id_b"))

        def check(rows):
            vecs = state["vecs"]
            for r in rows:
                a, b = vecs[r.id_a].astype(np.float64), vecs[r.id_b].astype(np.float64)
                cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
                if cos < self.COSINE_T - 1e-6:
                    return f"near_duplicates reported {(r.id_a, r.id_b)} at cosine {cos:.4f}"
            return None
        return Op("near_dups", run, prep, check)

    def after_op(self) -> None:
        from delta_spark.ops import cache
        self.live_frames.append(len(cache.live_ops()))

    def checks(self) -> list[str]:
        return []

    def extras(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (IngestDML, DedupPipeline)}
