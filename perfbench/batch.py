"""``batch``: one end-to-end pass of the analytics report set and the
LLM-data curation pipeline, as one Spark application runs it.

One client, closed loop; the pass runs in a fresh session, so it pays the
cold start a scheduled pipeline pays on every run. Steps, in order:

* analytics on the TPC-H tables: the registry's TPC-H-archetype report
  queries ``q01 q05 q11 q100 q103 q124 q127``, then ``DDF.summary``,
  ``correlation`` and ``vector_histogram`` on lineitem and one
  ``MLFacade.train("mlr")``;
* curation on ``documents``: a streaming ingest leg (``documents_stream``
  -> ``dedup_stream`` via ``run_available_now``), ``dedup_exact``,
  MinHash ``near_duplicates``, ``repetition_ratio``,
  ``passage_duplication``, Bloom ``decontaminate``, ``shard``,
  ``write_jsonl``, then the write path: ``snapshot_append`` of new
  documents and ``snapshot_upsert`` of changed ones into the snapshot
  created at set-up, and ``release_all_storage``.

The seed draws the tables, the statistics' columns, the decontamination
suite and the changed-document batches. Every step's output is checked
after the pass: registry queries against their DuckDB oracles, facades
against the same statistic in DuckDB, curation counts against a Python
recount of the corpus.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from check import connect, oracle_matches, same_rows, same_value
from probes import plan_counts, tree_bytes
from workloads import Op, Workload

REPORTS = (
    "q01_pricing_summary",
    "q05_join_inner",
    "q11_multiway_join",
    "q100_tpch_q5_local_supplier",
    "q103_tpch_q3_shipping_priority",
    "q124_tpch_q13_custdist",
    "q127_tpch_q21_waiting_supplier",
)
# tables each report reads: input rows per step
REPORT_TABLES = {
    "q01_pricing_summary": ("lineitem",),
    "q05_join_inner": ("orders", "customer"),
    "q11_multiway_join": ("customer", "nation", "region"),
    "q100_tpch_q5_local_supplier": (
        "customer", "orders", "lineitem", "supplier", "nation", "region"),
    "q103_tpch_q3_shipping_priority": ("customer", "orders", "lineitem"),
    "q124_tpch_q13_custdist": ("customer", "orders"),
    "q127_tpch_q21_waiting_supplier": ("lineitem", "orders", "supplier"),
}
TPCH = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
NUMERIC = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
N_SHARDS = 8
# documents arrive one per second from 2023-11-14; event time 0 would sit
# on the initial watermark and be dropped as late
ARRIVAL_EPOCH_S = 1_700_000_000


def shingles(text: str, n: int) -> set[str]:
    toks = text.lower().split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


class Batch(Workload):
    def __init__(self, ctx):
        super().__init__(ctx)
        self.sf_tpch = 0.001 if ctx.tiny else 0.03
        self.sf_docs = 0.001 if ctx.tiny else 0.01
        self.rng = np.random.default_rng([ctx.seed, 11])

    # inputs ---------------------------------------------------------------
    def generate(self) -> None:
        self.tpch, self.tpch_rows = self.write_tables(self.sf_tpch, "tpch")
        self.docdir, rows = self.write_tables(self.sf_docs, "docs")
        self.n_docs = rows["documents"]
        corpus = pq.read_table(f"{self.docdir}/documents.parquet")
        self.texts = dict(zip(corpus.column("doc_id").to_pylist(),
                              corpus.column("text").to_pylist()))
        rng = self.rng
        # decontamination suite: half copy an 8-word window of a corpus doc
        suite = []
        for i in range(30):
            words = self.texts[int(rng.integers(0, self.n_docs))].split(" ")
            if i % 2 == 0 and len(words) >= 8:
                s = int(rng.integers(0, len(words) - 7))
                suite.append(" ".join(words[s:s + 8]))
            else:
                suite.append(" ".join(gen.words(rng, 12)))
        self.suite_path = self.ctx.path("data", "suite.parquet")
        pq.write_table(pa.table({"doc_id": np.arange(30, dtype=np.int64), "text": suite}),
                       self.suite_path)
        self.suite = suite
        # write path: new documents (append) and changed ones (upsert)
        n_new = max(5, self.n_docs // 50)
        new = gen.documents(rng, n_new, id_base=self.n_docs)
        self.new_path = self.ctx.path("data", "new_docs.parquet")
        pq.write_table(new, self.new_path)
        changed_ids = sorted(int(x) for x in rng.choice(self.n_docs, max(5, self.n_docs // 20),
                                                        replace=False))
        changed = corpus.filter(pa.array(np.isin(corpus.column("doc_id").to_numpy(), changed_ids)))
        texts = [t + " " + " ".join(gen.words(rng, 3)) for t in changed.column("text").to_pylist()]
        changed = changed.set_column(changed.schema.get_field_index("text"), "text", pa.array(texts))
        changed = changed.set_column(changed.schema.get_field_index("n_chars"), "n_chars",
                                     pa.array([len(t) for t in texts], pa.int64()))
        self.changed_path = self.ctx.path("data", "changed_docs.parquet")
        pq.write_table(changed, self.changed_path)
        self.expected = dict(self.texts)
        self.expected.update(zip(new.column("doc_id").to_pylist(), new.column("text").to_pylist()))
        self.expected.update(zip(changed.column("doc_id").to_pylist(), texts))
        self.corr_cols = [NUMERIC[i] for i in rng.choice(len(NUMERIC), 2, replace=False)]
        self.hist = (NUMERIC[int(rng.integers(0, len(NUMERIC)))], int(rng.integers(5, 20)))
        self.ml_feats = [c for c in NUMERIC if c != "l_extendedprice"][: int(rng.integers(1, 4))]

    def info(self) -> dict:
        return {
            "loop": "closed", "clients": 1, "passes": "one cold pass per run",
            "tpch_sf": self.sf_tpch, "docs_sf": self.sf_docs,
            "tpch_rows": self.tpch_rows, "documents": self.n_docs,
            "reports": REPORTS, "corr_cols": self.corr_cols, "hist": self.hist,
            "ml_features": self.ml_feats,
        }

    # set-up -----------------------------------------------------------------
    def setup(self, rep: int) -> None:
        from ddf_flink_spark import DDFManager

        spark = self.ctx.spark
        with self.span("manager.DDFManager"):
            self.m = m = DDFManager(spark)
        with self.span("manager.load_table"):
            self.li = m.load_table(self.tpch, "lineitem")
        with self.span("manager.load_table"):
            self.docs = m.load_table(self.docdir, "documents")
        with self.span("manager.load_parquet"):
            self.suite_ddf = m.load_parquet(self.suite_path, "suite")
        self.snap = self.ctx.path(f"doc_snapshot_{rep}")
        with self.span("ddf.snapshot_create"):
            self.docs.snapshot_create(self.snap, id_col="doc_id")
        self.input_bytes = {"append": os.path.getsize(self.new_path),
                            "upsert": os.path.getsize(self.changed_path)}

    # the pass -----------------------------------------------------------------
    def ops(self):
        steps = [self._report(q) for q in REPORTS] + [
            self._summary(), self._correlation(), self._histogram(), self._ml(),
            self._stream(), self._dedup_exact(), self._near_dup(), self._repetition(),
            self._passages(), self._decontam(), self._shard(), self._jsonl(),
            self._commit("append"), self._commit("upsert"), self._release(),
        ]
        steps[-1].boundary = True
        yield from steps

    def _op(self, kind, rows, run, check, meta=None) -> Op:
        return Op(kind, "step", rows, run, check, boundary=False, meta=meta)

    def _report(self, name: str) -> Op:
        from ddf_flink_spark.registry import ORACLES, QUERIES

        spark, span, meta = self.ctx.spark, self.span, {}

        def run():
            with span(f"operators.{name}"):
                df = QUERIES[name](spark, self.tpch)
            meta["df"] = df
            with span("operators.collect"):
                rows = df.collect()
            import pandas as pd

            return pd.DataFrame([r.asDict() for r in rows], columns=df.columns)

        rows = sum(self.tpch_rows[t] for t in REPORT_TABLES[name])
        return self._op(name, rows, run,
                        lambda got: oracle_matches(self.tpch_con, ORACLES[name], got), meta)

    def _summary(self) -> Op:
        def run():
            with self.span("ddf.summary"):
                return self.li.summary()

        def check(got):
            for c in NUMERIC:
                want = self.tpch_con.execute(
                    f"SELECT AVG({c}), STDDEV_SAMP({c}), COUNT({c}), MIN({c}), MAX({c}) "
                    "FROM lineitem").fetchone()
                g = got[c]
                if not all(same_value(a, b, rel=1e-9) for a, b in zip(
                        (g["mean"], g["stdev"], g["count"], g["min"], g["max"]), want)):
                    return False
            return True

        return self._op("summary", self.tpch_rows["lineitem"], run, check)

    def _correlation(self) -> Op:
        a, b = self.corr_cols

        def run():
            with self.span("ddf.correlation"):
                return self.li.correlation(a, b)

        return self._op("correlation", self.tpch_rows["lineitem"], run, lambda got: same_value(
            got, self.tpch_con.execute(f"SELECT CORR({a}, {b}) FROM lineitem").fetchone()[0],
            rel=1e-9, abs_=1e-9))

    def _histogram(self) -> Op:
        col, k = self.hist

        def run():
            with self.span("ddf.vector_histogram"):
                return self.li.vector_histogram(col, k)

        def check(got):
            lo, hi = self.tpch_con.execute(f"SELECT MIN({col}), MAX({col}) FROM lineitem").fetchone()
            w = (hi - lo) / k
            counts = dict(self.tpch_con.execute(
                f"SELECT LEAST(CAST(FLOOR(({col} - {lo}) / {w}) AS BIGINT), {k - 1}) AS b, "
                "COUNT(*) FROM lineitem GROUP BY 1").fetchall())
            want = [(lo + i * w, counts.get(i, 0)) for i in range(k)]
            return same_rows(got, want, ordered=True, rel=1e-9)

        return self._op("vector_histogram", self.tpch_rows["lineitem"], run, check)

    def _ml(self) -> Op:
        from ddf_flink_spark.ml.facade import MLFacade

        feats = self.ml_feats

        def run():
            with self.span("ml.train"):
                model = MLFacade(self.li.df).train(
                    "mlr", {"feature_cols": feats, "label_col": "l_extendedprice"})
            return [float(x) for x in model.coefficients] + [float(model.intercept)]

        def check(got):
            data = self.tpch_con.execute(
                f"SELECT {', '.join(feats)}, l_extendedprice FROM lineitem").fetchnumpy()
            x = np.column_stack([data[c] for c in feats] + [np.ones(len(data[feats[0]]))])
            coef = np.linalg.lstsq(x, data["l_extendedprice"], rcond=None)[0]
            return same_rows([tuple(got)], [tuple(coef)], rel=1e-4)

        return self._op("ml_train", self.tpch_rows["lineitem"], run, check)

    def _stream(self) -> Op:
        from pyspark.sql import functions as F

        from ddf_flink_spark.streaming.core import dedup_stream, documents_stream, run_available_now

        spark, span = self.ctx.spark, self.span

        def run():
            with span("streaming.documents_stream"):
                src = documents_stream(spark, self.docdir).withColumn(
                    "ts", F.timestamp_seconds(F.col("doc_id") + ARRIVAL_EPOCH_S))
            with span("streaming.dedup_stream"):
                dd = dedup_stream(src, ["text"], watermark="36500 days")
            with span("streaming.run_available_now"):
                out = run_available_now(dd, output_mode="append")
            with span("streaming.collect"):
                return out.count()

        return self._op("stream_ingest", self.n_docs, run,
                        lambda got: got == len(set(self.texts.values())))

    def _dedup_exact(self) -> Op:
        def run():
            with self.span("dedup.dedup_exact"):
                d = self.docs.dedup_exact()
            with self.span("dedup.collect"):
                return sorted(r[0] for r in d.df.select("doc_id").collect())

        def check(got):
            first = {}
            for i, t in sorted(self.texts.items()):
                first.setdefault(t, i)
            return got == sorted(first.values())

        return self._op("dedup_exact", self.n_docs, run, check)

    def _near_dup(self) -> Op:
        meta = {}

        def run():
            with self.span("dedup.near_duplicates"):
                d = self.docs.near_duplicates("minhash")
            with self.span("dedup.collect"):
                pairs = sorted({(min(a, b), max(a, b)) for a, b in d.df.collect()})
            meta["pairs"] = pairs
            return pairs

        def check(got):
            by_text = {}
            for i, t in self.texts.items():
                by_text.setdefault(t, []).append(i)
            exact = {(a, b) for ids in by_text.values() for a in ids for b in ids if a < b}
            return exact <= set(map(tuple, got)) and all(
                a in self.texts and b in self.texts for a, b in got)

        return self._op("near_duplicates", self.n_docs, run, check, meta)

    def _repetition(self) -> Op:
        def run():
            with self.span("text.repetition_ratio"):
                d = self.docs.repetition_ratio()
            with self.span("text.collect"):
                return [tuple(r) for r in d.df.collect()]

        def check(got):
            want = []
            for i, t in self.texts.items():
                toks = t.lower().split(" ")
                grams = [" ".join(toks[j:j + 3]) for j in range(len(toks) - 2)]
                if grams:
                    want.append((i, len(grams), 1 - len(set(grams)) / len(grams)))
            return same_rows(got, want, rel=1e-9)

        return self._op("repetition_ratio", self.n_docs, run, check)

    def _passages(self) -> Op:
        def run():
            with self.span("text.passage_duplication"):
                d = self.docs.passage_duplication()
            with self.span("text.collect"):
                return [tuple(r) for r in d.df.collect()]

        def check(got):
            owners: dict[str, set] = {}
            wins: dict[int, list] = {}
            for i, t in self.texts.items():
                toks = t.lower().split(" ")
                wins[i] = [" ".join(toks[j:j + 8]) for j in range(len(toks) - 7)]
                for w in wins[i]:
                    owners.setdefault(w, set()).add(i)
            per_src: dict[str, list] = {}
            for i, ws in wins.items():
                acc = per_src.setdefault(f"src{i % 20}", [0, 0])
                acc[0] += len(ws)
                acc[1] += sum(1 for w in ws if len(owners[w]) > 1)
            want = [(s, n, d, d / n if n else 0.0) for s, (n, d) in per_src.items() if n]
            return same_rows(got, want, rel=1e-9)

        return self._op("passage_duplication", self.n_docs, run, check)

    def _decontam(self) -> Op:
        def run():
            with self.span("sketches.decontaminate"):
                d = self.docs.decontaminate(self.suite_ddf, n=5, method="bloom")
            with self.span("sketches.collect"):
                return sorted(r[0] for r in d.df.select("doc_id").collect())

        def check(got):
            bench = set().union(*(shingles(t, 5) for t in self.suite))
            dirty = {i for i, t in self.texts.items() if shingles(t, 5) & bench}
            kept = set(got)
            clean = set(self.texts) - dirty
            # a Bloom filter has no false negatives; false positives may drop
            # a few clean documents
            return not (kept & dirty) and kept <= clean and len(kept) >= 0.98 * len(clean)

        return self._op("decontaminate", self.n_docs, run, check)

    def _shard(self) -> Op:
        def run():
            with self.span("ddf.shard"):
                d = self.docs.shard(N_SHARDS)
            with self.span("ddf.collect"):
                return dict(d.df.groupBy("shard").count().collect())

        return self._op("shard", self.n_docs, run, lambda got: sum(got.values()) == self.n_docs
                        and set(got) <= set(range(N_SHARDS)))

    def _jsonl(self) -> Op:
        from ddf_flink_spark.sources.jsonl import write_jsonl

        out = self.ctx.path("jsonl_out")

        def run():
            with self.span("sources.write_jsonl"):
                write_jsonl(self.docs.df, out)
            return out

        def check(got):
            ids = set()
            for f in os.listdir(got):
                if f.endswith(".json"):
                    with open(os.path.join(got, f)) as fh:
                        ids.update(json.loads(line)["doc_id"] for line in fh)
            return ids == set(self.texts)

        return self._op("write_jsonl", self.n_docs, run, check)

    def _commit(self, how: str) -> Op:
        path = self.new_path if how == "append" else self.changed_path
        meta = {}

        def run():
            batch = self.m.load_parquet(path)
            before = tree_bytes(self.snap)
            with self.span(f"manifest.snapshot_{how}"):
                if how == "append":
                    v = batch.snapshot_append(self.snap)
                else:
                    v = batch.snapshot_upsert(self.snap)
            meta["written"] = tree_bytes(self.snap) - before
            return v

        rows = pq.read_metadata(path).num_rows
        return self._op(f"snapshot_{how}", rows, run,
                        lambda got: isinstance(got, int) and got >= 2, meta)

    def _release(self) -> Op:
        from ddf_flink_spark.storage import release_all_storage

        def run():
            with self.span("storage.release_all_storage"):
                return release_all_storage(self.ctx.spark)

        return self._op("release_all_storage", 0, run, lambda got: isinstance(got, int) and got >= 0)

    # tracing ------------------------------------------------------------------
    def trace_probe(self, op: Op, result) -> None:
        if op.kind in REPORTS and op.meta and "df" in op.meta:
            ex, bc = plan_counts(op.meta["df"])
            self.tracer.count("plan.exchanges", ex)
            self.tracer.count("plan.broadcasts", bc)
        elif op.kind == "near_duplicates" and op.meta.get("pairs") is not None:
            pairs = op.meta["pairs"]
            ok = sum(1 for a, b in pairs if len(shingles(self.texts[a], 3) & shingles(self.texts[b], 3))
                     >= 0.5 * len(shingles(self.texts[a], 3) | shingles(self.texts[b], 3)))
            self.tracer.count("dedup.candidates", len(pairs))
            self.tracer.count("dedup.verified", ok)
        elif op.kind.startswith("snapshot_") and op.meta:
            self.tracer.count("manifest.bytes_written", op.meta.get("written", 0))
            self.tracer.count("manifest.input_bytes", self.input_bytes[op.kind[9:]])
        elif op.kind == "release_all_storage" and isinstance(result, int):
            self.tracer.count("storage.blocks_released", result)

    def layer_metrics(self, timed: list, n_ops: int) -> dict:
        c = self.tracer.counts
        dur = self.sum_span_s
        n_rep = len(REPORTS)

        def op_s(kind):
            return sum(r["s"] for r in timed if r["kind"] == kind)

        ingest = dur("streaming.documents_stream", "streaming.dedup_stream",
                     "streaming.run_available_now", "streaming.collect")
        return {
            # facades: shard is the one lazy call; the statistics and the
            # shard count are actions
            "ddf.plan_ms": (1000 * dur("ddf.shard"), "ms"),
            "ddf.action_ms": (1000 * dur("ddf.summary", "ddf.correlation",
                                        "ddf.vector_histogram", "ddf.collect") / 4, "ms"),
            "operators.plan_s": (sum(dur(f"operators.{q}") for q in REPORTS) / n_rep, "s"),
            "operators.exec_s": (dur("operators.collect") / n_rep, "s"),
            "plan.exchanges": (c.get("plan.exchanges", 0) / n_rep, "count"),
            "plan.broadcasts": (c.get("plan.broadcasts", 0) / n_rep, "count"),
            "ml.train_s": (dur("ml.train"), "s"),
            "manifest.commit_ms": (1000 * dur("manifest.snapshot_append",
                                              "manifest.snapshot_upsert") / 2, "ms"),
            "manifest.bytes_written_per_input_byte": (
                c.get("manifest.bytes_written", 0) / c["manifest.input_bytes"]
                if c.get("manifest.input_bytes") else 0.0, "ratio"),
            "streaming.ingest_s": (ingest, "s"),
            "streaming.rows_per_s": (self.n_docs / ingest if ingest else 0.0, "rows/s"),
            "dedup.exact_s": (op_s("dedup_exact"), "s"),
            "dedup.near_dup_s": (op_s("near_duplicates"), "s"),
            "dedup.verified_per_candidate": (
                c.get("dedup.verified", 0) / c["dedup.candidates"]
                if c.get("dedup.candidates") else 0.0, "ratio"),
            "text.quality_s": (dur("text.repetition_ratio", "text.passage_duplication",
                                   "text.collect"), "s"),
            "sketches.decontam_s": (dur("sketches.decontaminate", "sketches.collect"), "s"),
            "sources.write_jsonl_s": (dur("sources.write_jsonl"), "s"),
            "storage.release_s": (dur("storage.release_all_storage"), "s"),
            "storage.blocks_released": (c.get("storage.blocks_released", 0), "count"),
        }

    # checks -----------------------------------------------------------------
    def before_checks(self) -> None:
        self.tpch_con = connect(self.tpch, list(TPCH))

    def final_checks(self) -> "list[tuple[str, bool]]":
        from ddf_flink_spark.functions.manifest import snapshot_read

        rows = snapshot_read(self.ctx.spark, self.snap).select("doc_id", "text").collect()
        got = {r[0]: r[1] for r in rows}
        return [("snapshot_contents", len(rows) == len(got) and got == self.expected)]

    def summary(self, timed: list) -> dict:
        docs_s = sum(r["s"] for r in timed if r["kind"] not in REPORTS and r["kind"] not in (
            "summary", "correlation", "vector_histogram", "ml_train"))
        return {"docs_per_s": self.n_docs / docs_s if docs_s else 0.0,
                "input_rows_per_s_analytics": sum(
                    r["rows"] for r in timed if r["kind"] in REPORTS) / max(1e-9, sum(
                    r["s"] for r in timed if r["kind"] in REPORTS))}
