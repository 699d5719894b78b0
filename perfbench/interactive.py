"""``interactive``: a seeded mix of short requests against a loaded catalog.

One client, closed loop. Every block of sixteen requests holds the
eleven relational request kinds, once each, on the sf0.01 catalog
(``DDFManager`` SELECTs, ``DDF`` facades, ``load_file`` of a small CSV)
and five search requests served from structures built during set-up
over the sf0.02 search tables: two on an IVFADC index (1-8 query
vectors drawn Zipf-skewed from ``embeddings``), one on a chunk index
(``DDF.maxsim_serve``) and two z-ordered lineitem snapshot reads with
zone-map pruning. The order inside each block is shuffled by the seed.
Each request returns a small Python value that is checked against
DuckDB (or a numpy recomputation) after the measured window.
"""

from __future__ import annotations

import numpy as np

from check import connect, same_rows, same_value
from probes import tree_files
from workloads import Op, Workload

REL_KINDS = (
    "sql_group", "sql_join", "aggregate", "top", "subset", "five_num",
    "binning", "fill_na", "sample_n", "head", "load_csv",
)
SEARCH_KINDS = ("ivfadc", "maxsim", "snapshot_read")
SEARCH_BLOCK = ("ivfadc", "ivfadc", "maxsim", "snapshot_read", "snapshot_read")
# value-returning facades: the whole call is the action
ACTION_SPANS = {"ddf.collect", "ddf.aggregate", "ddf.five_num_summary",
                "ddf.sample_n", "ddf.head", "ddf.num_rows"}
CATALOG = ("lineitem", "orders", "customer", "nation", "region", "supplier")
N_CSV = 8
CSV_ROWS = 400


def zorder(x: int, y: int, bits: int = 6) -> int:
    out = 0
    for i in range(bits):
        out |= ((x >> i) & 1) << (2 * i)
        out |= ((y >> i) & 1) << (2 * i + 1)
    return out


class Interactive(Workload):
    # one cold build of the three search structures takes ~25 s on 4
    # cores; repeating it does not fit the run's time budget
    setup_reps = 1

    def __init__(self, ctx):
        super().__init__(ctx)
        self.sf_cat = 0.001 if ctx.tiny else 0.01
        self.sf_search = 0.001 if ctx.tiny else 0.02
        self.rng = np.random.default_rng([ctx.seed, 1])
        self.seen_vecs: set[int] = set()
        self.drawn = self.repeats = 0

    # inputs ---------------------------------------------------------------
    def generate(self) -> None:
        self.cat, self.cat_rows = self.write_tables(self.sf_cat, "catalog")
        self.srch, self.srch_rows = self.write_tables(self.sf_search, "search")
        self.csvs = []
        rng = np.random.default_rng([self.ctx.seed, 2])
        for i in range(N_CSV):
            path = self.ctx.path("data", f"small_{i}.csv")
            with open(path, "w") as fh:
                for r in range(CSV_ROWS):
                    na = r >= 5 and rng.random() < 0.1
                    v4 = "NA" if na else str(int(rng.integers(0, 1000)))
                    fh.write(f"{r},{rng.uniform(0, 100):.3f},w{int(rng.integers(0, 9))},{v4}\n")
            self.csvs.append(path)
        n_vec = self.srch_rows["embeddings"]
        self.vec_perm = rng.permutation(n_vec)
        self.doc_perm = rng.permutation(self.srch_rows["documents"])

    def info(self) -> dict:
        return {
            "loop": "closed", "clients": 1,
            "catalog_sf": self.sf_cat, "search_sf": self.sf_search,
            "catalog_rows": self.cat_rows, "search_rows": self.srch_rows,
            "block": {"relational": REL_KINDS, "search": SEARCH_BLOCK},
        }

    # set-up -----------------------------------------------------------------
    def setup(self, rep: int) -> None:
        from pyspark.sql import functions as F

        from ddf_flink_spark import DDF, DDFManager
        from ddf_flink_spark.functions.index_store import persist_index
        from ddf_flink_spark.functions.layout import morton_key
        from ddf_flink_spark.functions.manifest import snapshot_create
        from ddf_flink_spark.functions.similarity import ivfadc_index_build
        from ddf_flink_spark.storage import release_checkpoint

        spark = self.ctx.spark
        with self.span("manager.DDFManager"):
            m = DDFManager(spark)
        for t in CATALOG:
            with self.span("manager.load_table"):
                m.load_table(self.cat, t)
        with self.span("manager.load_file"):
            self.csv_na = m.load_file(self.csvs[0])
        self.m = m
        self.li = m.get_ddf("lineitem")

        emb = spark.read.parquet(f"{self.srch}/embeddings.parquet")
        self.ivf_base = self.ctx.path(f"ivf_{rep}")
        with self.span("similarity.ivfadc_index_build"):
            index, coarse, cents = ivfadc_index_build(emb, n_lists=8, m=4, k=4, iters=2)
        with self.span("index_store.persist_index"):
            persist_index(index, coarse, cents, self.ivf_base)
        with self.span("storage.release_checkpoint"):
            release_checkpoint(index)
        self.ivf_files = tree_files(f"{self.ivf_base}/codes")

        docs = spark.read.parquet(f"{self.srch}/documents.parquet")
        self.docs = DDF(m, docs, "search_documents")
        self.chunk_base = self.ctx.path(f"chunks_{rep}")
        with self.span("ddf.build_chunk_index"):
            self.docs.build_chunk_index(self.chunk_base)

        li = spark.read.parquet(f"{self.srch}/lineitem.parquet").select(
            "l_orderkey", "l_quantity",
            (F.col("l_partkey") % 64).alias("x"), (F.col("l_suppkey") % 64).alias("y"),
        )
        clustered = (
            li.withColumn("mk", morton_key("x", "y", bits=6))
            .repartitionByRange(32, "mk")
            .sortWithinPartitions("mk")
        )
        self.snap_base = self.ctx.path(f"zsnap_{rep}")
        with self.span("manifest.snapshot_create"):
            snapshot_create(clustered, self.snap_base, id_col="l_orderkey", stats_cols=["mk"])
        self.snap_files = tree_files(self.snap_base)

    def warmup(self) -> None:
        rng = np.random.default_rng([self.ctx.seed, 3])
        for kind in REL_KINDS + SEARCH_KINDS:
            self.request(kind, rng, count=False).run()

    # requests ---------------------------------------------------------------
    def ops(self):
        """Blocks of sixteen requests: each of the eleven relational kinds
        once and five search requests (two IVFADC, one MaxSim, two
        snapshot reads), in seeded order with seeded parameters. Every
        block has the same composition (69% relational), so runs with
        different seeds measure the same mix; the window ends on a block
        boundary."""
        rng = self.rng
        while True:
            block = list(REL_KINDS) + list(SEARCH_BLOCK)
            rng.shuffle(block)
            for i, kind in enumerate(block):
                op = self.request(kind, rng)
                op.boundary = i == len(block) - 1
                yield op

    def _zipf_ids(self, rng, perm, n: int, count: bool) -> list[int]:
        ranks = np.minimum(rng.zipf(1.3, n) - 1, len(perm) - 1)
        ids = sorted({int(perm[r]) for r in ranks})
        if count:
            for i in ids:
                self.drawn += 1
                self.repeats += i in self.seen_vecs
                self.seen_vecs.add(i)
        return ids

    def request(self, kind: str, rng, count: bool = True) -> Op:
        span = self.span
        li, m = self.li, self.m
        lrows = self.cat_rows["lineitem"]
        if kind in ("sql_group", "sql_join"):
            from ddf_flink_spark.sql.preparser import parse_statement

            if kind == "sql_group":
                cmd = (
                    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
                    "ROUND(SUM(l_extendedprice), 2) AS revenue FROM lineitem "
                    f"WHERE l_quantity > {int(rng.integers(1, 45))} "
                    "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
                )
                rows = lrows
            else:
                day = f"{int(rng.integers(1995, 2001))}-{int(rng.integers(1, 13)):02d}-01"
                cmd = (
                    "SELECT o_orderpriority, COUNT(*) AS n, "
                    "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue "
                    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
                    f"WHERE o_orderdate >= TIMESTAMP '{day} 00:00:00' "
                    "GROUP BY o_orderpriority ORDER BY revenue DESC LIMIT 3"
                )
                rows = lrows + self.cat_rows["orders"]

            def run():
                with span("sql.parse_statement"):
                    parse_statement(cmd)
                with span("manager.sql2ddf"):
                    d = m.sql2ddf(cmd)
                with span("ddf.collect"):
                    return [tuple(r) for r in d.df.limit(1000).collect()]

            return Op(kind, "relational", rows, run,
                      lambda got: same_rows(got, self.cat_con.execute(cmd).fetchall(), ordered=True))
        if kind == "aggregate":
            key = ("l_returnflag", "l_linestatus")[int(rng.integers(0, 2))]
            val = ("l_quantity", "l_extendedprice")[int(rng.integers(0, 2))]

            def run():
                with span("ddf.aggregate"):
                    return li.aggregate(f"{key}, sum({val})")

            def check(got):
                want = self.cat_con.execute(
                    f"SELECT {key}, SUM({val}) FROM lineitem GROUP BY 1").fetchall()
                return same_rows([(k, v[0]) for k, v in got.items()], want)

            return Op(kind, "relational", lrows, run, check)
        if kind == "top":
            n = int(rng.integers(3, 20))
            col = ("l_extendedprice", "l_quantity", "l_discount")[int(rng.integers(0, 3))]

            def run():
                with span("ddf.top"):
                    d = li.top(n, col)
                with span("ddf.head"):
                    return [r[col] for r in d.head(n)]

            return Op(kind, "relational", lrows, run, lambda got: same_rows(
                [(v,) for v in got],
                self.cat_con.execute(f"SELECT {col} FROM lineitem ORDER BY 1 DESC LIMIT {n}").fetchall(),
                ordered=True))
        if kind == "subset":
            q, disc = int(rng.integers(1, 50)), round(float(rng.integers(1, 11)) / 100, 2)
            cond = f"l_quantity > {q} AND l_discount < {disc}"

            def run():
                with span("ddf.subset"):
                    d = li.subset(cond)
                with span("ddf.num_rows"):
                    return d.num_rows()

            return Op(kind, "relational", lrows, run, lambda got: got == self.cat_con.execute(
                f"SELECT COUNT(*) FROM lineitem WHERE {cond}").fetchone()[0])
        if kind == "five_num":
            col = ("l_quantity", "l_extendedprice", "l_tax")[int(rng.integers(0, 3))]

            def run():
                with span("ddf.five_num_summary"):
                    return li.five_num_summary([col])

            return Op(kind, "relational", lrows, run, lambda got: self._check_five(got, col))
        if kind == "binning":
            col = ("l_quantity", "l_linenumber")[int(rng.integers(0, 2))]
            k = int(rng.integers(2, 7))

            def run():
                with span("ddf.binning"):
                    d = li.binning(col, binning_type="EQUALINTERVAL", num_bins=k)
                with span("ddf.collect"):
                    return {r[0]: r[1] for r in d.df.groupBy(col).count().collect()}

            return Op(kind, "relational", lrows, run, lambda got: self._check_bins(got, col))
        if kind == "fill_na":
            v = int(rng.integers(0, 1000))

            def run():
                from pyspark.sql import functions as F

                with span("ddf.fill_na"):
                    d = self.csv_na.fill_na(v, columns=["V4"])
                with span("ddf.collect"):
                    return tuple(d.df.agg(F.sum("V4"), F.count("V4")).first())

            return Op(kind, "relational", CSV_ROWS, run, lambda got: same_rows([got], self.csv_con(
                self.csvs[0], f"SELECT SUM(COALESCE(V4, {v})), COUNT(COALESCE(V4, {v}))")))
        if kind == "sample_n":
            n, s = int(rng.integers(5, 20)), int(rng.integers(0, 1 << 30))

            def run():
                with span("ddf.sample_n"):
                    return [(r["l_orderkey"], r["l_linenumber"]) for r in li.sample_n(n, seed=s)]

            return Op(kind, "relational", lrows, run, lambda got: len(got) == n and self._rows_exist(got))
        if kind == "head":
            n = int(rng.integers(1, 50))

            def run():
                with span("ddf.head"):
                    return [(r["l_orderkey"], r["l_linenumber"]) for r in li.head(n)]

            return Op(kind, "relational", n, run, lambda got: len(got) == n and self._rows_exist(got))
        if kind == "load_csv":
            path = self.csvs[int(rng.integers(0, N_CSV))]

            def run():
                from pyspark.sql import functions as F

                with span("manager.load_file"):
                    d = m.load_file(path)
                with span("ddf.collect"):
                    return tuple(d.df.agg(F.count("V1"), F.sum("V2"), F.sum("V4")).first())

            return Op(kind, "relational", CSV_ROWS, run, lambda got: same_rows(
                [got], self.csv_con(path, "SELECT COUNT(V1), SUM(V2), SUM(V4)")))
        if kind == "ivfadc":
            ids = self._zipf_ids(rng, self.vec_perm, int(rng.integers(1, 9)), count)
            return self._ivfadc(ids)
        if kind == "maxsim":
            ids = self._zipf_ids(rng, self.doc_perm, int(rng.integers(1, 3)), False)
            return self._maxsim(ids)
        x0, y0 = int(rng.integers(0, 48)), int(rng.integers(0, 48))
        x1, y1 = x0 + int(rng.integers(4, 16)), y0 + int(rng.integers(4, 16))
        return self._snapshot_read(x0, y0, x1, y1)

    def _ivfadc(self, ids: list[int]) -> Op:
        from pyspark.sql import functions as F

        from ddf_flink_spark.functions.index_store import load_index
        from ddf_flink_spark.functions.similarity import ivfadc_index_search

        spark, span = self.ctx.spark, self.span
        meta = {}

        def run():
            with span("index_store.load_index"):
                codes, coarse, cents = load_index(spark, self.ivf_base)
            q = spark.read.parquet(f"{self.srch}/embeddings.parquet").filter(
                F.col("vec_id").isin(ids))
            with span("similarity.ivfadc_index_search"):
                res = ivfadc_index_search(codes, coarse, cents, q, nprobe=3, topk=5)
            meta["df"], meta["model"] = res, (coarse, cents)
            with span("similarity.collect"):
                return [tuple(r) for r in res.collect()]

        return Op("ivfadc", "search", self.srch_rows["embeddings"], run,
                  lambda got: self._check_ivfadc(got, ids, meta), meta=meta)

    def _maxsim(self, ids: list[int]) -> Op:
        from pyspark.sql import functions as F

        from ddf_flink_spark import DDF

        span, meta = self.span, {}

        def run():
            q = self.docs.df.filter(F.col("doc_id").isin(ids))
            with span("ddf.maxsim_serve"):
                res = DDF(self.m, q).maxsim_serve(self.chunk_base, k=5)
            meta["df"] = res.df
            with span("ddf.collect"):
                return [tuple(r) for r in res.df.collect()]

        return Op("maxsim", "search", self.srch_rows["documents"], run,
                  lambda got: self._check_maxsim(got, ids), meta=meta)

    def _snapshot_read(self, x0, y0, x1, y1) -> Op:
        from pyspark.sql import functions as F

        from ddf_flink_spark.functions.manifest import snapshot_read

        spark, span, meta = self.ctx.spark, self.span, {}

        def run():
            with span("manifest.snapshot_read"):
                df = snapshot_read(spark, self.snap_base,
                                   between=("mk", zorder(x0, y0), zorder(x1, y1)))
            meta["df"] = df
            with span("manifest.collect"):
                return tuple(
                    df.filter(F.col("x").between(x0, x1) & F.col("y").between(y0, y1))
                    .agg(F.count(F.lit(1)), F.round(F.sum("l_quantity"), 2))
                    .first()
                )

        def check(got):
            want = self.srch_con.execute(
                "SELECT COUNT(*), ROUND(SUM(l_quantity), 2) FROM lineitem "
                f"WHERE l_partkey % 64 BETWEEN {x0} AND {x1} "
                f"AND l_suppkey % 64 BETWEEN {y0} AND {y1}").fetchall()
            if want[0][0] == 0:
                want = [(0, None)]
            return same_rows([got], want)

        return Op("snapshot_read", "search", self.srch_rows["lineitem"], run, check, meta=meta)

    # tracing ------------------------------------------------------------------
    def trace_probe(self, op: Op, result) -> None:
        if op.kind == "ivfadc" and "df" in op.meta:
            files = [f for f in op.meta["df"].inputFiles() if "/codes/" in f]
            self.tracer.count("index_store.files_read", len(files))
            self.tracer.count("index_store.files_total", self.ivf_files)
        elif op.kind == "snapshot_read" and "df" in op.meta:
            self.tracer.count("manifest.files_read", len(op.meta["df"].inputFiles()))
            self.tracer.count("manifest.files_total", self.snap_files)

    def layer_metrics(self, timed: list, n_ops: int) -> dict:
        by_op: dict[str, list] = {}
        for name, a, b, _p, op in self.tracer.spans:
            by_op.setdefault(op, []).append((name, b - a))
        plan, action, per_kind = [], [], {}
        for r in timed:
            if r["cls"] != "relational":
                continue
            spans = by_op.get(r["op"], [])
            p = sum(d for n, d in spans if n.startswith("ddf.") and n not in ACTION_SPANS)
            a = sum(d for n, d in spans if n in ACTION_SPANS)
            plan.append(p)
            action.append(a)
            k = per_kind.setdefault(r["kind"], [0.0, 0.0, 0])
            k[0] += p
            k[1] += a
            k[2] += 1
        self.ctx.detail["ddf_ms_by_kind"] = {
            k: {"plan_ms": 1000 * v[0] / v[2], "action_ms": 1000 * v[1] / v[2], "n": v[2]}
            for k, v in per_kind.items()
        }

        def mean_ms(xs):
            return 1000 * sum(xs) / len(xs) if xs else 0.0

        def per_req(kind, *names):
            xs = [sum(d for n, d in by_op.get(r["op"], []) if n in names)
                  for r in timed if r["kind"] == kind]
            return mean_ms(xs)

        c = self.tracer.counts

        def ratio(a, b):
            return c.get(a, 0.0) / c[b] if c.get(b) else 0.0

        return {
            "sql.parse_us": (1000 * self.mean_span_ms("sql.parse_statement"), "us"),
            "manager.sql2ddf_ms": (self.mean_span_ms("manager.sql2ddf"), "ms"),
            "ddf.plan_ms": (mean_ms(plan), "ms"),
            "ddf.action_ms": (mean_ms(action), "ms"),
            "index_store.load_ms": (self.mean_span_ms("index_store.load_index"), "ms"),
            "similarity.search_ms": (per_req(
                "ivfadc", "similarity.ivfadc_index_search", "similarity.collect"), "ms"),
            "index_store.files_read_ratio": (
                ratio("index_store.files_read", "index_store.files_total"), "ratio"),
            "manifest.read_ms": (per_req(
                "snapshot_read", "manifest.snapshot_read", "manifest.collect"), "ms"),
            "manifest.files_pruned_ratio": (
                1.0 - ratio("manifest.files_read", "manifest.files_total")
                if c.get("manifest.files_total") else 0.0, "ratio"),
        }

    def summary(self, timed: list) -> dict:
        return {"search_repeat_share": self.repeats / self.drawn if self.drawn else 0.0,
                "search_query_vectors": self.drawn}

    # checks -----------------------------------------------------------------
    def before_checks(self) -> None:
        self.cat_con = connect(self.cat, list(CATALOG))
        self.srch_con = connect(self.srch, ["lineitem", "embeddings", "documents"])
        self.ivf_codes = self.srch_con.execute(
            f"SELECT id, list_id, code0, code1, code2, code3 FROM read_parquet("
            f"'{self.ivf_base}/codes/**/*.parquet', hive_partitioning = true)").fetchnumpy()
        emb = self.srch_con.execute(
            "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchall()
        self.emb = {i: np.asarray(v, dtype=np.float32).astype(np.float64) for i, v in emb}
        self.doc_ids = {r[0] for r in self.srch_con.execute("SELECT doc_id FROM documents").fetchall()}

    def csv_con(self, path: str, select: str):
        return self.cat_con.execute(
            f"{select} FROM read_csv('{path}', header = false, nullstr = 'NA', "
            "columns = {'V1': 'BIGINT', 'V2': 'DOUBLE', 'V3': 'VARCHAR', 'V4': 'BIGINT'})"
        ).fetchall()

    def _rows_exist(self, keys) -> bool:
        if not keys:
            return True
        pairs = ", ".join(f"({a}, {b})" for a, b in keys)
        n = self.cat_con.execute(
            f"SELECT COUNT(*) FROM lineitem WHERE (l_orderkey, l_linenumber) IN ({pairs})"
        ).fetchone()[0]
        return n == len(set(keys))

    def _check_five(self, got, col) -> bool:
        g = got[col]
        q = self.cat_con.execute(
            f"SELECT MIN({col}), MAX({col}), "
            + ", ".join(f"quantile_disc({col}, {p})" for p in (0.24, 0.26, 0.49, 0.51, 0.74, 0.76))
            + " FROM lineitem").fetchone()
        return (same_value(g["min"], q[0]) and same_value(g["max"], q[1])
                and q[2] - 1e-9 <= g["q1"] <= q[3] + 1e-9
                and q[4] - 1e-9 <= g["median"] <= q[5] + 1e-9
                and q[6] - 1e-9 <= g["q3"] <= q[7] + 1e-9)

    def _check_bins(self, got, col) -> bool:
        for label, n in got.items():
            if label is None:
                continue
            lo, hi = (float(x) for x in label.strip("([]").split(","))
            want = self.cat_con.execute(
                f"SELECT COUNT(*) FILTER (WHERE {col} > {lo} AND {col} <= {hi}), "
                f"COUNT(*) FILTER (WHERE {col} >= {lo} AND {col} <= {hi}) FROM lineitem"
            ).fetchone()
            if n not in want:
                return False
        # the open left edge drops the column minimum unless it is included
        total = sum(n for label, n in got.items() if label is not None)
        return total in self.cat_con.execute(
            f"SELECT COUNT(*) FILTER (WHERE {col} > (SELECT MIN({col}) FROM lineitem)), "
            "COUNT(*) FROM lineitem").fetchone()

    def _check_ivfadc(self, got, ids, meta) -> bool:
        """Recompute the residual-IVFADC top-5 in numpy from the persisted
        codes and the trained model: probe the 3 nearest coarse cells by
        dot product, score candidates by summed squared residual
        distances to their codewords, keep five per query."""
        coarse, books = (np.asarray(x, dtype=np.float64) for x in meta["model"])
        codes = self.ivf_codes
        m, k, w = books.shape
        got_by_q: dict[int, list] = {}
        for qid, nid, d in got:
            got_by_q.setdefault(qid, []).append((d, nid))
        if set(got_by_q) != set(ids):
            return False
        for qid in ids:
            qv = self.emb[qid]
            dots = np.round(-(coarse @ qv), 6)
            cells = sorted(range(len(coarse)), key=lambda c: (dots[c], c))[:3]
            cand = []
            for cell in cells:
                res = np.round(qv - coarse[cell], 6)
                lut = np.round((res.reshape(m, 1, w) - books) ** 2, 9).sum(axis=2)
                sel = (codes["list_id"] == cell) & (codes["id"] != qid)
                cc = np.stack([codes[f"code{j}"][sel] for j in range(m)], axis=1)
                dist = np.round(lut[np.arange(m), cc].sum(axis=1), 6)
                cand.extend(zip(dist.tolist(), codes["id"][sel].tolist()))
            want = sorted(cand)[:5]
            have = sorted(got_by_q[qid])
            if len(have) != len(want):
                return False
            for (dg, ng), (dw, nw) in zip(have, want):
                if abs(dg - dw) > 1e-5:
                    return False
                if ng != nw and not any(abs(d - dg) <= 1e-5 and n == ng for d, n in cand):
                    return False
        return True

    def _check_maxsim(self, got, ids) -> bool:
        by_q: dict[int, list] = {}
        for qid, did, score in got:
            by_q.setdefault(qid, []).append((did, score))
        if set(by_q) != set(ids):
            return False
        for hits in by_q.values():
            if not 0 < len(hits) <= 5:
                return False
            if any(d not in self.doc_ids or not -1.0001 <= s <= 1.0001 for d, s in hits):
                return False
        return True
