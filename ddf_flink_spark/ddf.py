"""The DDF wrapper: a named, schema'd distributed table with handler facades.

Reference model: ``DDF = name + Schema + handlers`` with a multi-
representation graph (``flink/src/main/scala/io/ddf/flink/content/
RepresentationHandler.scala:19-58``) — in Spark the single ``DataFrame``
subsumes every representation, so the wrapper is deliberately thin:
``(name, DataFrame, factor metadata, mutability flag)`` registered as a temp
view (replacing ``manager.addDDF``, ``FlinkDDFManager.scala:42-58``).

Facades mirror the reference handler surface (``ddf-conf/ddf.ini:57-83``):
sql / views / joins / aggregation / stats / binning / missing-data /
sampling / transform / ML, each delegating to a module in ``operators/``.
Mutation semantics (core MutabilityHandler, ``ddf.ini:67``): a "mutable" DDF
keeps its identity while its contents change — here the wrapper re-binds its
DataFrame pointer and refreshes the temp view.
"""

from __future__ import annotations

import itertools
import typing

from pyspark.sql import DataFrame

from .operators import aggregation as _agg
from .operators import binning as _binning
from .operators import joins as _joins
from .operators import missing as _missing
from .operators import sampling as _sampling
from .operators import stats as _stats
from .operators import transform as _transform
from .operators import views as _views

if typing.TYPE_CHECKING:
    from .manager import DDFManager

__all__ = ["DDF"]

_name_counter = itertools.count(1)


class DDF:
    """A named distributed table bound to a manager's catalog."""

    def __init__(
        self,
        manager: "DDFManager",
        df: DataFrame,
        name: str | None = None,
        factors: dict[str, dict] | None = None,
        mutable: bool = False,
    ):
        self.manager = manager
        self._df = df
        # tbl<counter> mirrors the reference's generated tbl<random long>
        # (FlinkDDFManager.scala:42-58) but deterministic for testability.
        self.name = name or f"tbl_{next(_name_counter)}"
        self.factors: dict[str, dict] = dict(factors or {})
        self.mutable = mutable
        self._register()

    # ------------------------------------------------------------------ core
    def _register(self) -> None:
        self._df.createOrReplaceTempView(self.name)
        self.manager.catalog[self.name] = self

    @property
    def df(self) -> DataFrame:
        return self._df

    @property
    def spark(self):
        return self.manager.spark

    @property
    def columns(self) -> list[str]:
        return self._df.columns

    @property
    def schema(self):
        return self._df.schema

    def set_mutable(self, mutable: bool = True) -> "DDF":
        self.mutable = mutable
        return self

    def _derive(self, df: DataFrame, name: str | None = None, keep_factors: bool = True) -> "DDF":
        """Wrap a derived frame. If this DDF is mutable, re-bind in place
        (reference identity-with-changing-contents model, docs/demo.md:72-81)."""
        if self.mutable and name is None:
            self._df = df
            self._register()
            return self
        factors = {c: v for c, v in self.factors.items() if c in df.columns} if keep_factors else {}
        return DDF(self.manager, df, name=name, factors=factors)

    def copy(self) -> "DDF":
        """Clone with metadata (``FlinkDDF.java:21-27``)."""
        return DDF(self.manager, self._df, factors=dict(self.factors))

    def num_rows(self) -> int:
        """``getNumRows`` (``content/MetaDataHandler.scala:10-13``)."""
        return self._df.count()

    def cache(self) -> "DDF":
        """Replaces the reference's client-memory row cache
        (``utils/RowCacheHelper.scala:19-66``) with distributed caching."""
        self._df.cache()
        return self

    def scale_audit(self) -> list[str]:
        """Lint this DDF's physical plan for 100 TB scale hazards
        (cartesian products, single-partition funnels, row-at-a-time
        Python, unpushed filters, full sorts under limits). Empty list =
        clean. See ``plans/audit.py``; the reference had no plan
        introspection at all (no optimizer — SURVEY §4.1)."""
        from .plans.audit import audit_plan

        return audit_plan(self._df)

    def persist(self, path: str) -> str:
        """Persistence sink (core handler, ``ddf.ini:68``; pinned by
        ``PersistenceHandlerSpec.scala:30-38``) → parquet."""
        target = f"{path.rstrip('/')}/{self.name}"
        self._df.write.mode("overwrite").parquet(target)
        return target

    def unpersist(self) -> None:
        self._df.unpersist()

    # ------------------------------------------------------------------- sql
    def sql(self, command: str) -> "DDF":
        """DDF-scoped SQL with ``@this`` substitution (core TableNameReplacer,
        via ``etl/SqlHandler.scala:15``)."""
        from .sql.preparser import substitute_this

        return self.manager.sql2ddf(substitute_this(command, self.name))

    def sql2list(self, command: str, limit: int = 1000) -> tuple[list[str], list[str]]:
        """Execute and return rows as tab-joined strings
        (``SqlHandler.scala:217-248``; DEFAULT_LIMIT=1000 ``:255``)."""
        from .sql.preparser import substitute_this

        res = self.manager.sql2ddf(substitute_this(command, self.name)).df.limit(limit)
        rows = ["\t".join("null" if v is None else str(v) for v in row) for row in res.collect()]
        return res.columns, rows

    # ----------------------------------------------------------------- views
    def project(self, *columns: str) -> "DDF":
        return self._derive(_views.project(self._df, list(columns)))

    def remove_columns(self, *columns: str) -> "DDF":
        return self._derive(_views.remove_columns(self._df, list(columns)))

    def subset(self, condition: str) -> "DDF":
        return self._derive(_views.subset(self._df, condition))

    def grep(self, column: str, pattern: str, ignore_case: bool = False) -> "DDF":
        return self._derive(_views.grep(self._df, column, pattern, ignore_case))

    def head(self, n: int) -> list:
        return _views.head(self._df, n)

    def top(self, n: int, column: str, ascending: bool = False) -> "DDF":
        return self._derive(_views.top(self._df, n, column, ascending))

    def sample(self, fraction: float, with_replacement: bool = False, seed: int | None = None) -> "DDF":
        return self._derive(_views.sample_fraction(self._df, fraction, with_replacement, seed))

    def sample_n(self, n: int, with_replacement: bool = False, seed: int = 42) -> list:
        """Exactly ``n`` random rows as a list of ``Row`` (all rows, shuffled,
        when ``n`` >= the row count without replacement): takeSample's
        sampling bound run in the JVM samplers, seeded by ``seed`` — see
        operators/views.sample_exact."""
        return _views.sample_exact(self._df, n, with_replacement, seed)

    def sample_weighted(
        self,
        weight_col: str,
        n: int,
        seed: int = 42,
        deterministic_id_col: str | None = None,
    ) -> "DDF":
        """Weighted sample without replacement (Efraimidis-Spirakis;
        beyond reference parity — see operators/sampling.sample_weighted).
        Pass ``deterministic_id_col`` to replace the seeded RNG with the
        md5-keyed reproducible variant (same selection on any engine, any
        run, any partitioning — registry q154's contract)."""
        from .operators.sampling import sample_weighted as _sw
        from .operators.sampling import sample_weighted_deterministic as _swd

        if deterministic_id_col is not None:
            return self._derive(
                _swd(self._df, weight_col, n, id_col=deterministic_id_col)
            )
        return self._derive(_sw(self._df, weight_col, n, seed))

    def sample_to_budget(
        self, group_col: str, weight_col: str, budget: float, order_col: str
    ) -> "DDF":
        """Budget-capped per-group selection — deterministic corpus mixing
        (see operators/sampling.sample_to_budget)."""
        from .operators.sampling import sample_to_budget as _sb

        return self._derive(_sb(self._df, group_col, weight_col, budget, order_col))

    # ----------------------------------------------------------------- joins
    def join(
        self,
        other: "DDF",
        join_type: str = "inner",
        by_columns: list[str] | None = None,
        by_left_columns: list[str] | None = None,
        by_right_columns: list[str] | None = None,
        broadcast_right: bool = False,
    ) -> "DDF":
        return self._derive(
            _joins.join(
                self._df,
                other.df,
                join_type,
                by_columns,
                by_left_columns,
                by_right_columns,
                broadcast_right,
            )
        )

    def merge(self, other: "DDF") -> "DDF":
        return self._derive(_joins.merge(self._df, other.df))

    def asof_join(
        self,
        other: "DDF",
        by: list[str],
        left_time: str = "ts",
        right_time: str = "ts",
        value_cols: list[str] | None = None,
        allow_exact: bool = True,
    ) -> "DDF":
        """Backward as-of join (time-series enrichment; beyond reference
        parity — see operators/joins.py asof_join)."""
        return self._derive(
            _joins.asof_join(
                self._df, other.df, by, left_time, right_time, value_cols, allow_exact
            )
        )

    def salted_join(
        self,
        other: "DDF",
        left_key: str,
        right_key: str,
        n_salts: int = 8,
        how: str = "inner",
    ) -> "DDF":
        """Skew-safe equi-join for pathological hot keys (beyond reference
        parity — see operators/skew.salted_join)."""
        from .operators.skew import salted_join as _salted_join

        return self._derive(
            _salted_join(self._df, other.df, left_key, right_key, n_salts, how)
        )

    def scd2_apply(
        self,
        updates: "DDF",
        key_cols: list[str],
        compare_cols: list[str],
        eff_col: str = "eff_date",
        from_col: str = "valid_from",
        to_col: str = "valid_to",
    ) -> "DDF":
        """Type-2 slowly-changing-dimension upsert (history-preserving
        alternative to set_mutable in-place rebinding — see
        operators/scd.scd2_apply)."""
        from .operators.scd import scd2_apply as _scd2

        return self._derive(
            _scd2(self._df, updates.df, key_cols, compare_cols, eff_col, from_col, to_col)
        )

    def embedding_drift(
        self, docs: "DDF", id_col: str = "vec_id", doc_id_col: str = "doc_id",
        group_col: str = "source", vec_col: str = "embedding",
    ) -> "DDF":
        """Per-group embedding-centroid distance from the corpus centroid
        (registry q235) — exact scaled-int centroids, semantic drift."""
        from pyspark.sql import functions as F

        e = self._df.select(
            F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("v")
        )
        d = docs.df.select(F.col(doc_id_col).alias("__id"), F.col(group_col).alias("grp"))
        comp = (
            e.join(d, "__id")
            .select("grp", F.posexplode("v").alias("dim", "x"))
            .select("grp", "dim", F.round(F.col("x") * 1e9).cast("long").alias("x9"))
        )
        per = comp.groupBy("grp", "dim").agg(F.sum("x9").alias("s9"), F.count(F.lit(1)).alias("n"))
        corpus = per.groupBy("dim").agg(F.sum("s9").alias("cs9"), F.sum("n").alias("cn"))
        dist = (
            per.join(corpus, "dim")
            .groupBy("grp", "n")
            .agg(F.sum(F.pow(
                F.col("s9") / F.col("n").cast("double") / 1e9
                - F.col("cs9") / F.col("cn").cast("double") / 1e9, 2)).alias("d2"))
        )
        out = dist.select(
            F.col("grp").alias(group_col),
            F.col("n").cast("long").alias("n_vecs"),
            F.round(F.sqrt("d2"), 6).alias("centroid_drift"),
        )
        return self._derive(out, keep_factors=False)

    def merge_upsert(self, changes: "DDF", key_cols: list[str], op_col: str = "op") -> "DDF":
        """MERGE INTO semantics (type-1 upsert + delete; registry q232):
        matched 'U' rows replace, unmatched 'U' rows insert, 'D' keys are
        removed — operators/scd.merge_upsert."""
        from .operators.scd import merge_upsert as _mu

        return self._derive(_mu(self._df, changes.df, key_cols, op_col))

    # ----------------------------------------------------------- aggregation
    def aggregate(self, fields: str) -> dict:
        return _agg.aggregate(self._df, fields)

    def group_by(self, group_cols: list[str], agg_specs: list[str]) -> "DDF":
        return self._derive(_agg.group_by(self._df, group_cols, agg_specs))

    def aggregate_on_column(self, function: str, column: str):
        return _agg.aggregate_on_column(self._df, function, column)

    def xtabs(self, fields: str) -> dict:
        return _agg.xtabs(self._df, fields)

    def correlation(self, col_a: str, col_b: str) -> float:
        return _agg.correlation(self._df, col_a, col_b)

    # ----------------------------------------------------------------- stats
    def summary(self) -> dict:
        return _stats.summary(self._df)

    def simple_summary(self) -> dict:
        return _stats.simple_summary(self._df, factor_columns=list(self.factors))

    def five_num_summary(self, columns: list[str] | None = None) -> dict:
        return _stats.five_num_summary(self._df, columns)

    def vector_quantiles(self, column: str, probabilities: list[float], eps: float = 0.001) -> list:
        return _stats.vector_quantiles(self._df, column, probabilities, eps)

    def vector_mean(self, column: str) -> float:
        return _stats.vector_mean(self._df, column)

    def vector_variance(self, column: str) -> list[float]:
        return _stats.vector_variance(self._df, column)

    def vector_covariance(self, col_a: str, col_b: str) -> float:
        return _stats.vector_covariance(self._df, col_a, col_b)

    def vector_cor(self, col_a: str, col_b: str) -> float:
        return _agg.correlation(self._df, col_a, col_b)

    def vector_histogram(self, column: str, num_bins: int) -> list[tuple[float, int]]:
        return _stats.vector_histogram(self._df, column, num_bins)

    # --------------------------------------------------------------- binning
    def binning(
        self,
        column: str,
        binning_type: str = "EQUALINTERVAL",
        num_bins: int = 5,
        breaks: list[float] | None = None,
        include_lowest: bool = False,
        right: bool = True,
    ) -> "DDF":
        out, levels = _binning.binning(
            self._df, column, binning_type, num_bins, breaks, include_lowest, right
        )
        derived = self._derive(out)
        derived.factors[column] = {"levels": levels}
        return derived

    # --------------------------------------------------------------- missing
    def drop_na(
        self,
        axis: str = "row",
        how: str = "any",
        thresh: int | None = None,
        columns: list[str] | None = None,
    ) -> "DDF":
        return self._derive(_missing.drop_na(self._df, axis, how, thresh, columns))

    def fill_na(self, value=None, column_values: dict | None = None, agg_function: str | None = None,
                columns: list[str] | None = None) -> "DDF":
        return self._derive(
            _missing.fill_na(self._df, value, column_values, agg_function, columns)
        )

    def fill_directional(
        self,
        column: str,
        order_by,
        method: str = "ffill",
        partition_by: list[str] | None = None,
    ) -> "DDF":
        """ffill/bfill — the fill method the reference throws on
        (``etl/MissingDataHandler.scala:122-127``)."""
        return self._derive(
            _missing.fill_directional(self._df, column, order_by, method, partition_by)
        )

    # ----------------------------------------------------------- time series
    def resample_gapfill(
        self,
        ts_col: str,
        key_cols: list[str],
        interval: str,
        value_col: str,
        tiebreak_col: str | None = None,
    ) -> "DDF":
        """Fixed-interval resample with forward-filled gaps
        (operators/timeseries.resample_gapfill) — extension; the reference
        has no temporal operators at all (SURVEY §2.9/§2.15)."""
        from .operators.timeseries import resample_gapfill as _resample

        return self._derive(
            _resample(self._df, ts_col, key_cols, interval, value_col, tiebreak_col),
            keep_factors=False,
        )

    def pivot(self, index_col: str, pivot_col: str, values: list,
              value_col: str, agg: str = "sum") -> "DDF":
        """Long→wide pivot with declared pivot values (single-pass plan —
        no distinct-values pre-job). Generalizes the reference's xtabs."""
        from pyspark.sql import functions as F

        agg_fn = getattr(F, agg)
        return self._derive(
            self._df.groupBy(index_col).pivot(pivot_col, values).agg(agg_fn(value_col)),
            keep_factors=False,
        )

    def unpivot(self, ids: list[str], values: list[str],
                var_name: str = "variable", value_name: str = "value") -> "DDF":
        """Wide→long melt (``df.unpivot`` — zero-shuffle row expansion)."""
        return self._derive(
            self._df.unpivot(ids, values, var_name, value_name),
            keep_factors=False,
        )

    # -------------------------------------------------------------- sampling
    def random_split(self, weights: list[float], seed: int = 42) -> list["DDF"]:
        return [self._derive(d) for d in _sampling.random_split(self._df, weights, seed)]

    def cv_random(self, k: int, train_size: float = 0.75, seed: int = 42):
        return [
            (self._derive(tr), self._derive(te))
            for tr, te in _sampling.cv_random(self._df, k, train_size, seed)
        ]

    def cv_k_fold(self, k: int, seed: int = 42, id_col: str | None = None):
        return [
            (self._derive(tr), self._derive(te))
            for tr, te in _sampling.cv_k_fold(self._df, k, seed, id_col=id_col)
        ]

    # ------------------------------------------------------------- transform
    def transform_scale_min_max(self) -> "DDF":
        return self._derive(_transform.scale_min_max(self._df))

    def transform_scale_standard(self) -> "DDF":
        return self._derive(_transform.scale_standard(self._df))

    def transform_native(self, expressions: dict[str, str]) -> "DDF":
        """``transformNativeRserve(expr)`` parity minus R: add/replace columns
        by SQL expression (``etl/TransformationHandler.scala:68-124``)."""
        return self._derive(_transform.transform_expressions(self._df, expressions))

    def transform_map_partitions(self, fn, schema) -> "DDF":
        return self._derive(_transform.map_partitions(self._df, fn, schema))

    def transform_map_reduce(self, map_fn, map_schema, key_cols, reduce_fn, reduce_schema) -> "DDF":
        return self._derive(
            _transform.map_reduce(self._df, map_fn, map_schema, key_cols, reduce_fn, reduce_schema)
        )

    def transform_udf(self, column: str, expression: str) -> "DDF":
        """The transformUDF the reference left unimplemented
        (``README.md:76-79``) — trivial in Spark."""
        return self._derive(_transform.transform_expressions(self._df, {column: expression}))

    # ----------------------------------------------- LLM-pipeline operators
    def dedup_exact(self, text_col: str = "text", id_col: str = "doc_id") -> "DDF":
        """Corpus with exact duplicates removed (canonical = min id per
        fingerprint) — functions/dedup.dedup_exact."""
        from .functions.dedup import dedup_exact as _dedup

        # pure row filter — full schema survives, factor metadata carries
        return self._derive(_dedup(self._df, text_col, id_col))

    def near_duplicates(
        self,
        method: str = "minhash",
        text_col: str = "text",
        id_col: str = "doc_id",
        **kwargs,
    ) -> "DDF":
        """Candidate near-duplicate pairs by ``minhash`` (LSH banding),
        ``simhash`` (Hamming blocking), ``jaccard`` (inverted-index
        exact n-gram), ``fuzzy`` (shingle blocking + bounded-prefix
        Levenshtein verify) or ``prefix`` (prefix-filtered exact
        token-set Jaccard) — functions/dedup.py."""
        from .functions import dedup as _d

        fns = {
            "minhash": _d.minhash_lsh_candidates,
            "simhash": _d.simhash_near_duplicates,
            "jaccard": _d.jaccard_candidates,
            "fuzzy": _d.fuzzy_near_duplicates,
            "prefix": _d.prefix_filter_jaccard,
        }
        if method not in fns:
            raise ValueError(f"unknown near-dup method {method!r}; one of {sorted(fns)}")
        out = fns[method](self._df, text_col=text_col, id_col=id_col, **kwargs)
        return self._derive(out, keep_factors=False)

    def similarity_topk(
        self,
        queries: "DDF",
        k: int = 5,
        method: str = "brute",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        **kwargs,
    ) -> "DDF":
        """Top-k cosine neighbors of ``queries`` in this DDF's vectors:
        ``brute`` (exact), ``lsh`` (hyperplane-bucketed, approximate) or
        ``srp`` (the cross-engine-reproducible quantized SRP-LSH form —
        registry q42) — functions/similarity.py."""
        from .functions import similarity as _s

        if method == "brute":
            if kwargs:
                raise TypeError(
                    f"unexpected options for method='brute': {sorted(kwargs)}"
                )
            out = _s.brute_force_topk(queries._df, self._df, k, id_col, vec_col)
        elif method == "lsh":
            out = _s.lsh_topk(queries._df, self._df, k=k, id_col=id_col,
                              vec_col=vec_col, **kwargs)
        elif method == "srp":
            out = _s.srp_lsh_topk_crossengine(
                queries._df, self._df, k=k, id_col=id_col, vec_col=vec_col, **kwargs
            )
        else:
            raise ValueError(f"unknown similarity method {method!r}")
        return self._derive(out, keep_factors=False)

    def passage_duplication(
        self,
        text_col: str = "text",
        id_col: str = "doc_id",
        group_col: str = "source",
        n_tokens: int = 8,
    ) -> "DDF":
        """Per-group duplicated-passage rate: fraction of n-token windows
        whose hash appears in more than one document (exact-substring
        dedup signal; registry q220) — functions/text.passage_duplication."""
        from .functions.text import passage_duplication as _pd

        return self._derive(
            _pd(self._df, text_col, id_col, group_col, n_tokens), keep_factors=False
        )

    def repetition_ratio(
        self, text_col: str = "text", id_col: str = "doc_id", n: int = 3
    ) -> "DDF":
        """Per-doc within-document repetition (1 − distinct/total n-grams;
        degenerate-text signal, registry q221) — functions/text.repetition_ratio."""
        from .functions.text import repetition_ratio as _rr

        return self._derive(_rr(self._df, text_col, id_col, n), keep_factors=False)

    def kl_novelty(self, text_col: str = "text", id_col: str = "doc_id") -> "DDF":
        """Per-doc unigram KL divergence vs the corpus distribution
        (out-of-distribution triage; registry q223). Returns
        (id, n_tokens, kl9) with kl9 the exact scaled-integer score —
        functions/text.kl_novelty."""
        from .functions.text import kl_novelty as _kl

        return self._derive(_kl(self._df, text_col, id_col), keep_factors=False)

    def semantic_dedup(
        self,
        k: int = 64,
        tau: float = 0.9,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        iters: int = 2,
    ) -> "DDF":
        """SemDeDup (Abbas et al. 2023) keep-set over this DDF's
        embeddings: deterministic-Lloyd k-means cells block the pair
        space, within-cell cosine ≥ tau edges form duplicate groups via
        connected components, each group keeps its min-id member.
        Returns the SURVIVING rows of this DDF (registry q224 is the
        per-cell report instance). Size ``k ≈ n/1000`` in production so
        cells stay bounded — the clustering is the blocking."""
        from pyspark.sql import functions as F

        from .functions.dedup import connected_components
        from .functions.similarity import cosine
        from .ml.kmeans import kmeans_lloyd

        assign = kmeans_lloyd(
            self._df, vec_col=vec_col, id_col=id_col, k=k, iters=iters
        )
        cells = assign.select("id", "cluster")
        emb = self._df.select(
            F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
        )
        a, b = cells.alias("a"), cells.alias("b")
        edges = (
            a.join(
                b,
                (F.col("a.cluster") == F.col("b.cluster"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .join(emb.select(F.col("id").alias("id_a"), F.col("v").alias("va")), "id_a")
            .join(emb.select(F.col("id").alias("id_b"), F.col("v").alias("vb")), "id_b")
            .filter(F.round(cosine(F.col("va"), F.col("vb")), 6) >= tau)
            .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        )
        labels = connected_components(edges, cells.select("id"))
        keep = labels.filter(F.col("id") == F.col("cluster")).select(
            F.col("id").alias(id_col)
        )
        return self._derive(
            self._df.join(keep, id_col, "left_semi"), keep_factors=False
        )

    def decontaminate(
        self,
        benchmark: "DDF",
        n: int = 5,
        method: str = "exact",
        text_col: str = "text",
        id_col: str = "doc_id",
        m_bits: int = 4194304,
        k: int = 4,
    ) -> "DDF":
        """Drop documents sharing ANY word ``n``-gram with the
        ``benchmark`` corpus (eval-suite decontamination — registry
        q130/q207). ``method='exact'`` semi-joins the benchmark's
        distinct shingle set (broadcast; exact); ``method='bloom'``
        probes a constant-size Bloom filter instead — no false
        negatives, so nothing contaminated survives, at a ~m-tunable
        false-positive rate that may drop a few clean documents; use it
        when the eval suite outgrows broadcastability."""
        from pyspark.sql import functions as F

        from .functions.dedup import exploded_shingles

        bench_g = (
            exploded_shingles(benchmark._df, text_col, id_col, n)
            .select("g")
            .distinct()
        )
        corpus_sh = exploded_shingles(self._df, text_col, id_col, n)
        if method == "exact":
            flagged = (
                corpus_sh.join(F.broadcast(bench_g), "g", "left_semi")
                .select("id")
                .distinct()
            )
        elif method == "bloom":
            from .functions.sketches import bloom_build_words, bloom_filter_members

            words = bloom_build_words(bench_g, "g", m_bits=m_bits, k=k)
            flagged = (
                bloom_filter_members(corpus_sh, "g", words, m_bits=m_bits, k=k)
                .select("id")
                .distinct()
            )
        else:
            raise ValueError(f"unknown decontamination method {method!r}")
        keep = self._df.join(
            flagged, self._df[id_col] == flagged["id"], "left_anti"
        )
        return self._derive(keep)

    def lm_perplexity(
        self, text_col: str = "text", id_col: str = "doc_id"
    ) -> "DDF":
        """Per-document corpus-LM perplexity (functions/text.
        bigram_lm_scores) — the cheap-LM quality filter."""
        from .functions.text import bigram_lm_scores

        return self._derive(
            bigram_lm_scores(self._df, text_col, id_col), keep_factors=False
        )

    def quantize_embeddings(
        self, vec_col: str = "embedding", id_col: str = "vec_id", n_levels: int = 127
    ) -> "DDF":
        """Symmetric per-dimension int8 codes (functions/similarity.
        quantize_embeddings)."""
        from .functions.similarity import quantize_embeddings as _q

        return self._derive(
            _q(self._df, vec_col, id_col, n_levels), keep_factors=False
        )

    def pack_sequences(
        self, text_col: str = "text", id_col: str = "doc_id", context: int = 512
    ) -> "DDF":
        """(doc, window, token-slice) pretraining packing layout
        (functions/packing.pack_sequences; distributed prefix scan)."""
        from .functions.packing import pack_sequences as _p

        return self._derive(
            _p(self._df, text_col, id_col, context), keep_factors=False
        )

    def paragraph_boilerplate(
        self,
        text_col: str = "text",
        id_col: str = "doc_id",
        chunk_tokens: int = 10,
        min_occurrences: int = 2,
    ) -> "DDF":
        """Per-document boilerplate report: fixed token chunks
        fingerprinted corpus-wide, chunks recurring >= min_occurrences
        marked boilerplate (functions/text.token_chunks + md5 grouping —
        the q164 shape)."""
        from pyspark.sql import functions as F

        from .functions.text import token_chunks

        chunks = token_chunks(
            self._df, text_col, id_col, size=chunk_tokens, stride=chunk_tokens
        ).select(
            F.col("id"), F.md5("chunk_text").alias("fp"), "chunk_tokens"
        )
        freq = chunks.groupBy("fp").agg(F.count(F.lit(1)).alias("n_occ"))
        joined = chunks.join(freq, "fp")
        out = joined.groupBy("id").agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("n_occ") >= min_occurrences).cast("long")).alias("n_boiler"),
            F.sum(
                F.when(F.col("n_occ") < min_occurrences, F.col("chunk_tokens"))
                .otherwise(0)
            ).cast("long").alias("kept_tokens"),
        )
        return self._derive(out, keep_factors=False)

    def filter_funnel(
        self,
        filters: "list[tuple[str, str]]",
        group_col: str | None = None,
    ) -> "DDF":
        """Retention funnel over an ordered filter chain (registry q215
        is the oracle-checked fixed instance): ``filters`` is a list of
        (stage_name, SQL condition) applied CUMULATIVELY; the output has
        one row per group (or a single 'all' row) with n_docs, an
        ``after_<stage>`` survivor count per stage, and the end-to-end
        retention. ONE scan, conditional sums, map-side combinable."""
        from pyspark.sql import functions as F

        if not filters:
            raise ValueError("filter_funnel needs at least one (name, condition)")
        df = self._df
        acc = F.lit(True)
        aggs = [F.count(F.lit(1)).cast("long").alias("n_docs")]
        for name, cond in filters:
            acc = acc & F.expr(cond)
            aggs.append(
                F.sum(F.when(acc, 1).otherwise(0)).cast("long").alias(f"after_{name}")
            )
        aggs.append(
            F.round(
                F.sum(F.when(acc, 1).otherwise(0)) / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("retention")
        )
        grouped = (
            df.groupBy(group_col)
            if group_col
            else df.groupBy(F.lit("all").alias("group"))
        )
        out = grouped.agg(*aggs)
        return self._derive(
            out.orderBy(group_col) if group_col else out, keep_factors=False
        )

    def quantile_sketch_grouped(
        self,
        group_col: str,
        column: str,
        quantiles: list[float] = (0.25, 0.5, 0.75, 0.9),
        bins: int = 256,
    ) -> "DDF":
        """Per-group quantile estimates from one shared-grid mergeable
        histogram sketch (registry q236) —
        operators/stats.histogram_quantile_sketch_grouped."""
        from .operators.stats import histogram_quantile_sketch_grouped as _hq

        return self._derive(
            _hq(self._df, group_col, column, list(quantiles), bins), keep_factors=False
        )

    def shard(self, n_shards: int, id_col: str = "doc_id", seed: int = 0) -> "DDF":
        """Deterministic dataloader sharding (registry q228): append a
        ``shard`` column = md5(seed:id) mod n — a pure data function, so
        every run/engine deals identical shards."""
        from pyspark.sql import functions as F

        from .functions.dedup import md5_long

        return self._derive(
            self._df.withColumn(
                "shard",
                (md5_long(F.col(id_col).cast("string"), salt=seed) % n_shards).cast("int"),
            )
        )

    def quantile_sketch(
        self,
        column: str,
        quantiles: list[float] = (0.25, 0.5, 0.75, 0.9, 0.99),
        bins: int = 512,
    ) -> "DDF":
        """Mergeable histogram quantile estimates (operators/stats.
        histogram_quantile_sketch; error ≤ range/bins) — the
        cross-engine, shard-mergeable member of the quantile family."""
        return self._derive(
            _stats.histogram_quantile_sketch(self._df, column, quantiles, bins),
            keep_factors=False,
        )

    def distinct_sketch(self, column: str, k: int = 256) -> "DDF":
        """One-row KMV cardinality estimate (functions/sketches.
        kmv_distinct) — cross-engine-reproducible; ``approx_count_
        distinct`` remains the engine-native fast path."""
        from .functions.sketches import kmv_distinct as _kmv

        return self._derive(_kmv(self._df, column, k), keep_factors=False)

    def bpe_vocabulary(
        self, n_merges: int = 10, text_col: str = "text"
    ) -> "tuple[list[tuple[str, str]], DDF]":
        """Learn a BPE merge list over this corpus (functions/text.
        bpe_learn — greedy pair merges over the distinct-word table);
        returns (ordered merges, DDF of the final word→symbols table)."""
        from .functions.text import bpe_learn as _bpe

        merges, words = _bpe(self._df, text_col, n_merges)
        return merges, self._derive(words, keep_factors=False)

    def search_bm25(
        self,
        query_terms: list[str],
        topk: int = 20,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> "DDF":
        """Top-k BM25 lexical retrieval over this corpus
        (functions/retrieval.bm25_topk)."""
        from .functions.retrieval import bm25_topk as _bm25

        return self._derive(
            _bm25(self._df, query_terms, text_col, id_col, topk=topk),
            keep_factors=False,
        )

    def triangle_count(self, u_col: str = "u", v_col: str = "v") -> "DDF":
        """Exact triangle count of this DDF's undirected edge list
        (functions/graph.triangle_count; degree-ordered orientation).
        Edges are normalized here — (min, max) ordered, deduped, self
        loops dropped — so lists stored in both directions or with
        duplicates count each triangle once; the underlying function's
        each-edge-once precondition is therefore always met."""
        from pyspark.sql import functions as F

        from .functions.graph import triangle_count as _tri

        u, v = F.col(u_col), F.col(v_col)
        edges = (
            self._df.filter(u != v)
            .select(
                F.least(u, v).alias("u"), F.greatest(u, v).alias("v")
            )
            .distinct()
        )
        return self._derive(_tri(edges, "u", "v"), keep_factors=False)

    def cdc_chunks(
        self,
        text_col: str = "text",
        id_col: str = "doc_id",
        window: int = 4,
        divisor: int = 8,
    ) -> "DDF":
        """Content-defined chunks with md5 fingerprints
        (functions/text.cdc_chunks; insertion-robust boundaries)."""
        from .functions.text import cdc_chunks as _cdc

        return self._derive(
            _cdc(self._df, text_col, id_col, window, divisor), keep_factors=False
        )

    def frequency_estimates(
        self, column: str, probe_keys: list[str], depth: int = 4, width: int = 1024
    ) -> "DDF":
        """Count-min point-frequency estimates for ``probe_keys``
        (functions/sketches.countmin_counters/estimate; est ≥ true).

        Probe keys are normalized through the COLUMN'S OWN engine-side
        cast before hashing: the grid hashed ``CAST(col AS STRING)``,
        whose rendering for non-string/int columns (double ``1.0``,
        decimal scale padding, dates) differs from a caller's bare
        ``'1'`` — without the round-trip those probes would read
        collision noise from the wrong buckets. Output rows keep the
        caller's original key strings."""
        from pyspark.sql import functions as F

        from .functions.sketches import countmin_counters, countmin_estimate

        spark = self._df.sparkSession
        coltype = self._df.schema[column].dataType
        rendered = (
            spark.createDataFrame([(k,) for k in probe_keys], "key string")
            .select(
                "key",
                F.coalesce(
                    F.col("key").cast(coltype).cast("string"), F.col("key")
                ).alias("hk"),
            )
            .collect()
        )
        by_key = {r.key: r.hk for r in rendered}
        hash_keys = [by_key[k] for k in probe_keys]
        counters = countmin_counters(self._df, column, depth, width)
        return self._derive(
            countmin_estimate(
                spark, counters, probe_keys, depth, width, hash_keys=hash_keys
            ),
            keep_factors=False,
        )

    def pca_top_component(
        self, vec_col: str = "embedding", id_col: str = "vec_id", iters: int = 2
    ) -> "DDF":
        """Top principal component by power iteration
        (functions/similarity.pca_power_iteration)."""
        from .functions.similarity import pca_power_iteration as _pca

        return self._derive(
            _pca(self._df, vec_col, id_col, iters), keep_factors=False
        )

    def pq_search(
        self,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        m: int = 4,
        k: int = 4,
        topk: int = 5,
    ) -> "DDF":
        """Product-quantization ANN from the lowest-id query vector
        (functions/similarity.pq_search; codes-only corpus scan)."""
        from .functions.similarity import pq_search as _pq

        return self._derive(
            _pq(self._df, vec_col, id_col, m=m, k=k, topk=topk),
            keep_factors=False,
        )

    def ivfpq_search(
        self,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        n_lists: int = 8,
        nprobe: int = 3,
        m: int = 4,
        k: int = 4,
        topk: int = 5,
    ) -> "DDF":
        """IVF-PQ composite ANN from the lowest-id query vector: coarse
        cells prune to ``nprobe`` lists, PQ asymmetric distance ranks
        the candidates (functions/similarity.ivfpq_search; registry
        q242 — the canonical billion-scale index layout)."""
        from .functions.similarity import ivfpq_search as _ivfpq

        return self._derive(
            _ivfpq(
                self._df,
                vec_col,
                id_col,
                n_lists=n_lists,
                nprobe=nprobe,
                m=m,
                k=k,
                topk=topk,
            ),
            keep_factors=False,
        )

    def ivfadc_search(
        self,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        n_lists: int = 8,
        nprobe: int = 3,
        m: int = 4,
        k: int = 4,
        topk: int = 5,
    ) -> "DDF":
        """Full residual IVFADC from the lowest-id query vector: PQ on
        residuals with one ADC LUT per probed cell
        (functions/similarity.ivfadc_search; registry q243)."""
        from .functions.similarity import ivfadc_search as _ivfadc

        return self._derive(
            _ivfadc(
                self._df,
                vec_col,
                id_col,
                n_lists=n_lists,
                nprobe=nprobe,
                m=m,
                k=k,
                topk=topk,
            ),
            keep_factors=False,
        )

    def ivfadc_batch_search(
        self,
        queries: "DDF | DataFrame",
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        n_lists: int = 8,
        nprobe: int = 3,
        m: int = 4,
        k: int = 4,
        topk: int = 5,
    ) -> "DDF":
        """BATCH residual-IVFADC serving: train once on this DDF's
        vectors, answer a whole DataFrame/DDF of query vectors in one
        lazy plan — probe map pass, in-engine ADC LUTs, per-query
        window top-k; no per-query driver work (functions/similarity.
        ivfadc_batch_search; registry q244). Returns (query_id,
        neighbor_id, pq_dist2)."""
        from .functions.similarity import ivfadc_batch_search as _batch

        qdf = queries._df if isinstance(queries, DDF) else queries
        return self._derive(
            _batch(
                self._df,
                qdf,
                vec_col,
                id_col,
                n_lists=n_lists,
                nprobe=nprobe,
                m=m,
                k=k,
                topk=topk,
            ),
            keep_factors=False,
        )

    def ivfadc_index_build(
        self,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        n_lists: int = 8,
        m: int = 4,
        k: int = 4,
        iters: int = 2,
    ):
        """Train the residual-IVFADC index once and return it as data:
        (codes DDF (id, list_id, code0..m-1) — persist partitioned by
        list_id, q245's layout — coarse centroids, codebooks). Serve
        with :meth:`ivfadc_index_search`, keep it current with
        functions/similarity.ivfadc_encode over a stream (q248)."""
        from .functions.similarity import ivfadc_index_build as _build

        index, coarse, cents = _build(
            self._df, vec_col, id_col, n_lists=n_lists, m=m, k=k, iters=iters
        )
        return self._derive(index, keep_factors=False), coarse, cents

    def ivfadc_index_search(
        self,
        index: "DDF | DataFrame",
        coarse: list,
        codebooks: list,
        q_vec_col: str = "embedding",
        q_id_col: str = "vec_id",
        nprobe: int = 3,
        topk: int = 5,
        static_probe: bool = False,
    ) -> "DDF":
        """Serve THIS DDF's rows as queries against a built or reloaded
        index (functions/similarity.ivfadc_index_search; registry
        q244/q245). ``static_probe`` pushes the literal probe set so a
        list_id-partitioned index is read partition-pruned."""
        from .functions.similarity import ivfadc_index_search as _search

        idx = index._df if isinstance(index, DDF) else index
        return self._derive(
            _search(
                idx,
                coarse,
                codebooks,
                self._df,
                q_vec_col=q_vec_col,
                q_id_col=q_id_col,
                nprobe=nprobe,
                topk=topk,
                static_probe=static_probe,
            ),
            keep_factors=False,
        )

    def maxsim_topk(
        self,
        queries: "DDF | DataFrame",
        text_col: str = "text",
        id_col: str = "doc_id",
        k: int = 5,
    ) -> "DDF":
        """Chunk-level late-interaction retrieval over THIS DDF's
        documents: rank them for each query document by max cosine over
        their chunk windows (functions/retrieval.maxsim_topk; registry
        q257). Returns (query_id, doc_id, maxsim)."""
        from .functions.retrieval import maxsim_topk as _maxsim

        qdf = queries._df if isinstance(queries, DDF) else queries
        return self._derive(
            _maxsim(qdf, self._df, text_col, id_col, k=k), keep_factors=False
        )

    def build_chunk_index(
        self,
        base: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        n_lists: int = 8,
    ) -> list:
        """Offline BUILD leg of the chunk-MaxSim lifecycle: chunk +
        embed THIS DDF's documents, train the chunk coarse quantizer,
        persist the list_id-partitioned chunk index + coarse sidecar at
        ``base`` (functions/retrieval.build_chunk_index; registry
        q265). Serve with :meth:`maxsim_serve`; delete documents with
        functions/index_store.index_delete_ids (cascades to all their
        chunks, q268); grow hot cells with
        functions/index_store.chunk_split_on_disk (q273). Returns the
        coarse centroids."""
        from .functions.retrieval import build_chunk_index as _build

        return _build(self._df, base, text_col, id_col, n_lists=n_lists)

    def maxsim_serve(
        self,
        base: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        k: int = 5,
        nprobe: int = 3,
        static_probe: bool = False,
    ) -> "DDF":
        """SERVE leg: THIS DDF's rows are the queries, answered from
        the PERSISTED chunk index at ``base`` in one lazy plan —
        reload, probe, exact integer cosines over candidate chunks,
        per-doc MAX, window top-k (functions/retrieval.
        maxsim_persisted_topk; registry q266). ``static_probe`` pushes
        the literal probe set so the partitioned chunk table is read
        partition-pruned."""
        from .functions.index_store import load_chunk_index
        from .functions.retrieval import maxsim_persisted_topk as _serve

        chunks, coarse = load_chunk_index(self._df.sparkSession, base)
        return self._derive(
            _serve(
                self._df,
                chunks,
                coarse,
                text_col,
                id_col,
                k=k,
                nprobe=nprobe,
                static_probe=static_probe,
            ),
            keep_factors=False,
        )

    # ------------------------------------------------------------ snapshots
    def snapshot_create(
        self,
        base: str,
        part_col: "str | list[str] | None" = None,
        id_col: str = "id",
        stats_cols: "list[str] | None" = None,
        bloom_cols: "list[str] | None" = None,
    ) -> int:
        """Commit THIS DDF as v1 of a snapshot-versioned table at
        ``base`` (functions/manifest.py; registry q278-q293): immutable
        data files + atomic manifest publication, giving time travel,
        merge-on-read deletes and reader/maintenance isolation.
        ``stats_cols`` records per-file min/max (zone map);
        ``bloom_cols`` records per-file Bloom filters for point
        lookups. Read it back with :meth:`DDFManager.snapshot_table`."""
        from .functions.manifest import snapshot_create as _create

        return _create(
            self._df, base, part_col=part_col, id_col=id_col,
            stats_cols=stats_cols, bloom_cols=bloom_cols,
        )

    def snapshot_append(
        self,
        base: str,
        batch_tag: "str | None" = None,
        retries: int = 0,
        txn: "tuple | None" = None,
    ) -> int:
        """Append THIS DDF to the snapshot table at ``base`` as a new
        version. ``batch_tag`` makes the append idempotent (a replayed
        tag is a no-op) — the exactly-once sink discipline for
        ``foreachBatch`` writers (registry q283); ``txn=(app,
        version)`` is the scale form (one max version kept per app —
        O(#writers) metadata vs batch_tag's O(#batches)). ``retries=N``
        turns a publish race against a concurrent writer into
        bounded-backoff rebase: data is written once, only the
        manifest header re-publishes. An append never conflicts
        logically with concurrent commits (its rows are new), so
        rebase is always safe here."""
        from .functions.manifest import snapshot_append as _append

        return _append(
            self._df, base, batch_tag=batch_tag, retries=retries, txn=txn
        )

    def snapshot_upsert(
        self,
        base: str,
        batch_tag: "str | None" = None,
        retries: int = 0,
        txn: "tuple | None" = None,
        isolation: str = "lww",
        merge_schema: bool = False,
    ) -> int:
        """MERGE this DDF into the snapshot table at ``base`` in one
        atomic commit: matched ids update, new ids insert (registry
        q291); ``batch_tag``/``txn`` give exactly-once replay and
        ``retries`` optimistic-concurrency rebase. New columns need
        ``merge_schema=True`` (ADD-COLUMN evolution, same rule as
        :meth:`snapshot_append`); type changes are rejected. Rebase contract:
        with the default ``isolation='lww'`` a retried upsert is
        LAST-WRITER-WINS over concurrently committed rows with
        matching ids (its tombstones' scope moves past the concurrent
        commit — the intended CDC-apply semantics);
        ``isolation='strict'`` aborts the rebase when a raced commit
        could touch this batch's ids (metadata-bounded stats/Bloom
        check); ``retries=0`` aborts on ANY race."""
        from .functions.manifest import snapshot_upsert as _upsert

        return _upsert(
            self._df, base, batch_tag=batch_tag, retries=retries, txn=txn,
            isolation=isolation, merge_schema=merge_schema,
        )

    def snapshot_merge(
        self,
        base: str,
        when_matched_update: "list[str] | str | None" = "all",
        when_matched_delete=None,
        when_not_matched_insert: bool = True,
        batch_tag: "str | None" = None,
        retries: int = 0,
        txn: "tuple | None" = None,
        isolation: str = "lww",
        merge_schema: bool = False,
    ) -> int:
        """Conditional MERGE of this DDF into the snapshot table at
        ``base`` — ONE atomic commit (registry q301): rows matching
        ``when_matched_delete`` (a SQL string / Column over the source
        row, e.g. ``"op = 'd'"``) delete their target row;
        other matched rows update — the whole row
        (``when_matched_update="all"``), only the listed columns
        (``["colA"]``, keeping the rest from the current target row),
        or nothing (``None``); unmatched rows insert when
        ``when_not_matched_insert`` (missing columns fill NULL). The
        CDC-apply surface: an op-coded I/U/D batch lands in one
        commit, no torn read between the delete and the insert.
        Source columns the table lacks (the op code) are dropped
        unless ``merge_schema=True`` evolves them in. ``batch_tag`` /
        ``txn`` / ``retries`` / ``isolation`` as in
        :meth:`snapshot_upsert`; matched rows resolve against the
        snapshot current at call time, scan-bounded by stats/Bloom
        admission of the batch's ids when small."""
        from .functions.manifest import snapshot_merge as _merge

        return _merge(
            self._df, base,
            when_matched_update=when_matched_update,
            when_matched_delete=when_matched_delete,
            when_not_matched_insert=when_not_matched_insert,
            batch_tag=batch_tag, retries=retries, txn=txn,
            isolation=isolation, merge_schema=merge_schema,
        )

    # --------------------------------------------------------------- factors
    def set_as_factor(self, column: str) -> "DDF":
        """Mark categorical (core setAsFactor; ``BinningHandlerSpec.scala:19-22``)."""
        if column not in self._df.columns:
            raise KeyError(column)
        self.factors.setdefault(column, {})
        return self

    def factor_level_counts(self, columns: list[str] | None = None) -> dict[str, dict]:
        """Distributed level→count maps for factor columns in one pass
        (``content/SchemaHandler.scala:18-64,90-185``)."""
        cols = columns or list(self.factors) or [
            f.name for f in self._df.schema.fields if f.dataType.typeName() in ("string", "boolean")
        ]
        counts = _stats.factor_level_counts(self._df, cols)
        for c, levels in counts.items():
            self.factors[c] = {"levels": sorted(levels), "level_counts": levels}
        return counts

    def factor_levels(self, column: str) -> list:
        if column not in self.factors or "levels" not in self.factors[column]:
            self.factor_level_counts([column])
        return self.factors[column]["levels"]
