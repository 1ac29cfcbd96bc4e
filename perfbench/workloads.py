"""The benchmark's workloads: inputs made from the seed, one operation, checks.

crawl_unique       pages from ``sources.pages.generate``; households picked
                   by a seeded hash, every address variant appears once.
crawl_boilerplate  the same pages plus one footer line per page that repeats
                   one of a few dozen addresses, picked by the seed.
registry           registry queries over copies of the sf0.1 documents and
                   embeddings tables whose row order and file split come
                   from the seed.

An operation is one ``run_pipeline`` on a fresh work dir (crawl) or one
fully consumed registry query (registry).
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import shutil
import statistics
import time

from pyspark import StorageLevel
from pyspark.sql import Window
from pyspark.sql import functions as F

from scripts import check_oracle
from scripts.check_oracle import frame_digest

CACHE = StorageLevel.MEMORY_AND_DISK

# Sizes. The listed workloads are bounded by the run budget (22 runs per
# workload in under an hour, set-up included) and by a traced run's three
# rounds finishing within its time limit: registry takes the documents with
# doc_id below 2,500 (half of sf0.1; a full pass takes 25-57 s on a 4-core
# host) and every embedding. crawl_unique is not listed; its size gave
# extraction the largest share seen on a 4-core host (README). The toy
# sizes are for the smoke mode.
SIZES = {
    "crawl_unique": {"households": 10000, "footers": 0},
    "crawl_boilerplate": {"households": 1000, "footers": 40},
    "registry": {"docs": 2500, "vecs": None},
}
TOY_SIZES = {
    "crawl_unique": {"households": 150, "footers": 0},
    "crawl_boilerplate": {"households": 150, "footers": 8},
    "registry": {"docs": 300, "vecs": 300},
}

REGISTRY_QUERIES = (
    "er_normalize",
    "er_pair_scores",
    "er_clusters",
    "sim_lsh_topk",
    "dedup_ngram_jaccard_dfcap",
    "corpus_decontaminate",
)

# Households picked per generated household: the generator is asked for
# PICK times the size and a seeded hash keeps one in PICK.
PICK = 2
CORE_SAMPLE = 200
MIN_F1 = 0.99


def _median_us(ns: list[int]) -> float:
    return statistics.median(ns) / 1e3


def time_core(lines: list[str]) -> dict:
    """Median single-thread driver time of each extraction step per line."""
    from indian_address_parser_spark.core.extractor import extract_rules_only
    from indian_address_parser_spark.core.parse import parse_address, preprocess
    from indian_address_parser_spark.core.refine import refine

    clock = time.perf_counter_ns
    for _ in range(2):  # the first pass fills the regex caches
        pre, ext, ref, full = [], [], [], []
        for line in lines:
            t = clock()
            norm = preprocess(line)
            t1 = clock()
            spans = extract_rules_only(norm)
            t2 = clock()
            refine(norm, spans)
            t3 = clock()
            parse_address(line)
            t4 = clock()
            pre.append(t1 - t)
            ext.append(t2 - t1)
            ref.append(t3 - t2)
            full.append(t4 - t3)
    return {
        "core.parse.preprocess_us": _median_us(pre),
        "core.extractor.extract_rules_only_us": _median_us(ext),
        "core.refine.refine_us": _median_us(ref),
        "core.parse.parse_address_us": _median_us(full),
    }


def sample_lines(lines, seed: int, n: int = CORE_SAMPLE) -> list[str]:
    """A fixed, seeded sample of a workload's address lines."""
    picked = lines.orderBy(F.xxhash64("key", F.lit(seed))).limit(n)
    return [r["line"] for r in picked.collect()]


def repeat_frac(lines) -> float:
    """Share of lines whose exact string occurred earlier in the input."""
    row = lines.agg(F.count("*").alias("n"), F.countDistinct("line").alias("d")).collect()[0]
    return 1 - row["d"] / row["n"]


def digest(rows) -> str:
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()[:16]


def pair_counts(assign: list[tuple], truth: dict) -> tuple[int, int, int]:
    """(true positive, predicted, actual) pair counts of a clustering
    ``[(id, cluster)]`` against ``{id: entity}``, over all pairs."""
    def pairs(counts):
        return sum(n * (n - 1) // 2 for n in counts.values())

    by_cluster, by_entity, by_both = {}, {}, {}
    for i, c in assign:
        e = truth[i]
        by_cluster[c] = by_cluster.get(c, 0) + 1
        by_entity[e] = by_entity.get(e, 0) + 1
        by_both[c, e] = by_both.get((c, e), 0) + 1
    return pairs(by_both), pairs(by_cluster), pairs(by_entity)


def min_id_components(nodes: list[int], edges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """(node, smallest node of its connected component) for every node."""
    root = {n: n for n in nodes}

    def find(n):
        while root[n] != n:
            root[n] = root[root[n]]
            n = root[n]
        return n

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            root[max(ra, rb)] = min(ra, rb)
    return [(n, find(n)) for n in nodes]


def f1_from_counts(tp: int, pred: int, actual: int) -> float:
    p = tp / pred if pred else 1.0
    r = tp / actual if actual else 1.0
    return 2 * p * r / (p + r) if p + r else 0.0


class Crawl:
    """ER pipeline over generated crawl pages."""

    kind = "crawl"

    def __init__(self, name: str, seed: int, work: str, households: int, footers: int):
        self.name, self.seed, self.work = name, seed, work
        self.households, self.footers = households, footers
        self.hist_digests: list[str] = []
        self.last_dir: str | None = None

    # -- inputs ---------------------------------------------------------
    def setup(self, spark, tracer) -> None:
        from indian_address_parser_spark.sources.pages import FILLERS, generate

        seed = self.seed
        with tracer.span("sources.pages.generate"):
            truth = generate(spark, n_households=self.households * PICK)["truth"]
            picked = truth.where(
                F.pmod(F.xxhash64("entity_id", F.lit(seed)), F.lit(PICK)) == 0
            )
            w = Window.partitionBy("url").orderBy("mention_seq")
            lines = picked.select(
                "url", "entity_id", "raw",
                (F.row_number().over(w) - 1).alias("seq"),
            ).persist(CACHE)
            lines.count()
            if self.footers:
                # footer k repeats the address of one picked mention; every
                # page gets one footer after its own mention lines
                pool = (
                    lines.orderBy(F.xxhash64("url", "seq", F.lit(seed + 1)))
                    .limit(self.footers)
                    .select("entity_id", "raw")
                    .collect()
                )
                foot = spark.createDataFrame(
                    [(k, r["entity_id"], r["raw"]) for k, r in enumerate(pool)],
                    "k int, entity_id long, raw string",
                )
                footer_lines = (
                    lines.groupBy("url").agg(F.count("*").alias("seq"))
                    .withColumn(
                        "k", F.pmod(F.xxhash64("url", F.lit(seed + 2)), F.lit(len(pool))).cast("int")
                    )
                    .join(F.broadcast(foot), "k")
                    .select("url", "entity_id", "raw", "seq")
                )
                base, lines = lines, lines.unionByName(footer_lines).persist(CACHE)
                lines.count()
                base.unpersist()
            self.truth = lines.select(
                F.concat_ws("#", "url", F.col("seq").cast("string")).alias("mention_id"),
                "entity_id", "raw",
            )
            filler = F.element_at(
                F.array(*[F.lit(f) for f in FILLERS]),
                (F.pmod(F.xxhash64("url"), F.lit(len(FILLERS))) + 1).cast("int"),
            )
            self.pages = (
                lines.groupBy("url")
                .agg(F.sort_array(F.collect_list(F.struct("seq", "raw"))).alias("ms"))
                .select(
                    "url",
                    F.concat_ws(
                        "\n",
                        filler,
                        F.concat_ws("\n", F.transform("ms", lambda s: s["raw"])),
                        F.lit(FILLERS[0]),
                    ).alias("text"),
                )
                .repartition(spark.sparkContext.defaultParallelism * 2)
                .persist(CACHE)
            )
            self.n_pages = self.pages.count()
            self.n_lines = lines.count()

    # -- one operation ------------------------------------------------------
    def op(self, spark, tracer, i: int) -> tuple[float, str | None, dict]:
        """→ (seconds, failure reason or None, report)."""
        from indian_address_parser_spark.plans.er_pipeline import run_pipeline

        wd = os.path.join(self.work, f"er_{i % 2}")
        shutil.rmtree(wd, ignore_errors=True)
        t0 = time.perf_counter()
        with tracer.span("plans.er_pipeline.run_pipeline"):
            report = run_pipeline(spark, self.pages, wd)
        secs = time.perf_counter() - t0
        self.last_dir = wd
        return secs, self.check(spark, report, wd), report

    def check(self, spark, report: dict, wd: str) -> str | None:
        if report["resumed"]:
            return f"resumed {report['resumed']} instead of computing"
        n = report["stages"]["mentions"]["rows"]
        if n != self.n_lines:
            return f"extracted {n} mentions, generated {self.n_lines} lines"
        cl = spark.read.parquet(os.path.join(wd, "clusters"))
        row = cl.agg(
            F.count("*").alias("rows"),
            F.countDistinct("mention_id").alias("ids"),
            F.count("cluster_id").alias("labelled"),
        ).collect()[0]
        if not (row["rows"] == row["ids"] == row["labelled"] == n):
            return f"cluster ids not one per mention: {row.asDict()} for {n} mentions"
        hist = (
            cl.groupBy("cluster_id").count().groupBy("count").count().collect()
        )
        self.hist_digests.append(digest(tuple(r) for r in hist))
        if len(set(self.hist_digests)) > 1:
            return "cluster-size histogram differs between runs of one seed"
        return None

    # -- after the timed window ---------------------------------------------
    def verify(self, spark) -> tuple[float, str | None]:
        """Pairwise F1 of the last run's clusters against the generated
        household ids, with ``eval.pairwise.pairwise_scores`` over every
        true pair and every predicted pair."""
        from indian_address_parser_spark.eval.pairwise import pairwise_scores

        if self.last_dir is None:
            return 0.0, "no operation produced a clustering"
        assign = spark.read.parquet(os.path.join(self.last_dir, "clusters")).select(
            "mention_id", "cluster_id"
        )
        t = assign.join(self.truth.select("mention_id", "entity_id"), "mention_id")
        a = t.select(F.col("mention_id").alias("mention_id_a"),
                     F.col("entity_id").alias("ea"), F.col("cluster_id").alias("ca"))
        b = t.select(F.col("mention_id").alias("mention_id_b"),
                     F.col("entity_id").alias("eb"), F.col("cluster_id").alias("cb"))
        order = F.col("mention_id_a") < F.col("mention_id_b")
        labeled = (
            a.join(b, (F.col("ea") == F.col("eb")) & order)
            .unionByName(a.join(b, (F.col("ca") == F.col("cb")) & order))
            .select("mention_id_a", "mention_id_b", (F.col("ea") == F.col("eb")).alias("is_match"))
            .distinct()
        )
        f1 = pairwise_scores(assign, labeled)["f1"]
        return f1, (None if f1 >= MIN_F1 else f"pairwise F1 {f1:.4f} < {MIN_F1}")

    def lines(self, spark):
        """(key, address line) of every mention line in the input."""
        return self.truth.select(F.col("mention_id").alias("key"), F.col("raw").alias("line"))

    def extractor_us_per_page(self, n: int = 100) -> float:
        """Driver time of the extraction UDF body per page, one batch."""
        from indian_address_parser_spark.functions.udfs import make_mention_extractor

        pdf = (
            self.pages.orderBy(F.xxhash64("url", F.lit(self.seed))).limit(n).toPandas()
        )
        fn = make_mention_extractor()
        obs = []
        for _ in range(3):
            t = time.perf_counter_ns()
            for _out in fn(iter([pdf])):
                pass
            obs.append(time.perf_counter_ns() - t)
        return statistics.median(obs) / 1e3 / len(pdf)

    def layers(self, spark, tracer) -> dict:
        """The pipeline's operators called one by one, each output
        materialized inside its span; returns the per-layer counts."""
        from indian_address_parser_spark.operators.blocking import with_block_key
        from indian_address_parser_spark.operators.cc import attach_clusters, connected_components
        from indian_address_parser_spark.operators.extract import extract_mentions
        from indian_address_parser_spark.operators.pairs import (
            BLOCK_INPUT_COLS,
            PAIR_INPUT_COLS,
            candidate_pairs,
        )
        from indian_address_parser_spark.operators.scoring import score_pairs

        with tracer.span("layers"):
            with tracer.span("operators.extract") as ext:
                m = extract_mentions(self.pages).select(*BLOCK_INPUT_COLS).persist(CACHE)
                ext["mentions"] = m.count()
            with tracer.span("operators.blocking") as blocking:
                b = with_block_key(m).select(*PAIR_INPUT_COLS).persist(CACHE)
                b.count()
            with tracer.span("operators.pairs") as pairs:
                p = candidate_pairs(b).persist(CACHE)
                pairs["candidates"] = p.count()
            with tracer.span("operators.scoring") as scoring:
                e = score_pairs(p).persist(CACHE)
                scoring["edges"] = e.count()
            with tracer.span("operators.cc") as cc:
                a = connected_components(e).persist(CACHE)
                a.count()
                with tracer.span("operators.cc.attach"):
                    c = attach_clusters(m.select("mention_id"), a).persist(CACHE)
                    c.count()
        frames = [m, b, p, e, a, c]
        # shape counts, outside the spans
        keys = b.groupBy("join_key").agg(F.count("*").alias("n"))
        kr = keys.agg(F.count("*").alias("k"), F.max("n").alias("mx")).collect()[0]
        split = b.agg(F.avg((F.col("join_key") != F.col("block_key")).cast("double"))).collect()[0][0]
        sizes = c.groupBy("cluster_id").count().agg(
            F.count("*").alias("k"), F.max("count").alias("mx")
        ).collect()[0]
        blocking.update(join_keys=kr["k"], max_join_key_rows=kr["mx"], split_frac=float(split or 0.0))
        cc.update(components=sizes["k"], max_component=sizes["mx"])
        out = {}
        for layer, counts in (("extract", ext), ("blocking", blocking), ("pairs", pairs),
                              ("scoring", scoring), ("cc", cc)):
            out.update({f"operators.{layer}.{k}": v for k, v in counts.items()})
        for f in frames:
            f.unpersist()
        return out


class Registry:
    """Registry queries over seeded copies of fixed documents/embeddings."""

    kind = "registry"

    def __init__(self, name: str, seed: int, work: str, docs: int | None, vecs: int | None):
        self.name, self.seed, self.work = name, seed, work
        self.docs, self.vecs = docs, vecs
        self.dir = os.path.join(work, "tables")
        self.last_clusters: tuple | None = None

    def setup(self, spark, tracer) -> None:
        with tracer.span("registry.write_tables"):
            self.n_pages = write_registry_tables(self.dir, self.seed, self.docs, self.vecs)

    def run_query(self, spark, tracer, q: str) -> tuple[float, str | None]:
        """Run one query to completion (its rows delivered to the client)
        → (seconds, failure or None); the rows are checked afterwards."""
        from indian_address_parser_spark.queries import SPARK_QUERIES

        t0 = time.perf_counter()
        with tracer.span(f"queries.{q}"):
            table = SPARK_QUERIES[q](spark, self.dir).toArrow()
        secs = time.perf_counter() - t0
        rows = list(zip(*(c.to_pylist() for c in table.columns)))
        if q == "er_clusters":
            self.last_clusters = (table.column_names, rows)
        got = frame_digest(table.column_names, rows)
        return secs, (None if got == self.want[q] else f"spark {got} != oracle {self.want[q]}")

    def load_oracle(self) -> None:
        """Digest of every query's DuckDB oracle over the unshuffled tables in
        ``data/``, so the seeded copies must give the same outputs. The
        oracle depends only on the tables, the oracle SQL and the digest
        code, and is cached under that key in the work directory."""
        from indian_address_parser_spark.queries import oracle_sqls

        sqls = oracle_sqls(DATA)
        key = hashlib.sha256(repr((
            self.docs, self.vecs, [sqls[q] for q in REGISTRY_QUERIES],
            inspect.getsource(check_oracle), inspect.getsource(min_id_components),
            [_file_sha(os.path.join(DATA, f"{t}.parquet")) for t in ("documents", "embeddings")],
        )).encode()).hexdigest()[:16]
        path = os.path.join(ORACLE_CACHE, f"oracle-{key}.json")
        if not os.path.exists(path):
            os.makedirs(ORACLE_CACHE, exist_ok=True)
            with open(path + ".tmp", "w") as fh:
                json.dump(self._oracle(sqls), fh)
            os.replace(path + ".tmp", path)
        with open(path) as fh:
            got = json.load(fh)
        self.want = {q: tuple(d) for q, d in got["want"].items()}
        self.oracle_clusters = (got["cluster_cols"], [tuple(r) for r in got["clusters"]])

    def _oracle(self, sqls: dict) -> dict:
        """Run the oracle. ``er_clusters``' oracle is a recursive transitive
        closure that takes about a minute at sf0.1; its clusters are instead
        the connected components of its own edge set (the ``er_pair_scores``
        oracle rows at or above the score threshold), each labelled by its
        smallest ``doc_id`` as the closure labels them."""
        import duckdb

        from indian_address_parser_spark.queries import SCORE_THRESHOLD

        con = duckdb.connect()
        try:
            for t, id_col, n in (("documents", "doc_id", self.docs), ("embeddings", "vec_id", self.vecs)):
                where = f" WHERE {id_col} < {n}" if n is not None else ""
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(DATA, t)}.parquet'){where}"
                )
            want, out = {}, {}
            for q in REGISTRY_QUERIES:
                if q == "er_clusters":  # after er_pair_scores
                    cols, rows = out["er_pair_scores"]
                    a, b, score = (cols.index(c) for c in ("id_a", "id_b", "score"))
                    edges = [(r[a], r[b]) for r in rows if r[score] >= SCORE_THRESHOLD]
                    docs = [r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()]
                    cols, rows = ["doc_id", "cluster_id"], min_id_components(docs, edges)
                    clusters = (cols, rows)
                else:
                    cur = con.execute(sqls[q])
                    cols, rows = [d[0] for d in cur.description], cur.fetchall()
                out[q] = (cols, rows)
                want[q] = frame_digest(cols, rows)
        finally:
            con.close()
        return {"want": want, "cluster_cols": clusters[0], "clusters": clusters[1]}

    def verify(self, spark) -> tuple[float, str | None]:
        """Pairwise F1 of the last ``er_clusters`` output against the
        oracle's clusters, over all pairs."""

        def clusters(cols, rows):
            i, j = cols.index("doc_id"), cols.index("cluster_id")
            return {r[i]: r[j] for r in rows}

        if self.last_clusters is None:
            return 0.0, "no er_clusters output"
        truth = clusters(*self.oracle_clusters)
        assign = clusters(*self.last_clusters)
        if set(truth) != set(assign):
            return 0.0, "er_clusters labels other ids than the oracle"
        f1 = f1_from_counts(*pair_counts(list(assign.items()), truth))
        return f1, (None if f1 >= MIN_F1 else f"er_clusters pairwise F1 {f1:.4f} < {MIN_F1}")

    def lines(self, spark):
        """(key, address line) of every address the ER queries derive."""
        from indian_address_parser_spark.queries import q_er_synth_addr

        a = q_er_synth_addr(spark, self.dir)
        return a.select(F.col("doc_id").cast("string").alias("key"), F.col("addr").alias("line"))


# The registry tables: documents (5,000 rows) and embeddings (2,000 x 64) of
# the sf0.1 test-data set, copied byte for byte into the benchmark's
# directory so that a run reads nothing outside its checkout.
HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
ORACLE_CACHE = os.path.join(os.path.dirname(HERE), ".perfbench_work", "oracle")


def _file_sha(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def write_registry_tables(out: str, seed: int, docs: int | None, vecs: int | None) -> int:
    """Seeded copies of ``data/{documents,embeddings}.parquet`` (the rows
    with id below ``docs`` / ``vecs`` when given) → the number of documents.
    The content is fixed; the seed sets the row order and how many files
    each table is split into."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    order_rng = np.random.default_rng(seed)
    shutil.rmtree(out, ignore_errors=True)
    rows_written = {}
    for name, id_col, rows in (("documents", "doc_id", docs), ("embeddings", "vec_id", vecs)):
        table = pq.read_table(os.path.join(DATA, f"{name}.parquet"))
        if rows is not None:
            table = table.filter(pc.less(table[id_col], rows))
        table = table.take(order_rng.permutation(table.num_rows))
        rows_written[name] = table.num_rows
        parts = 1 + int(order_rng.integers(4))
        d = os.path.join(out, f"{name}.parquet")
        os.makedirs(d)
        bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
        for k in range(parts):
            pq.write_table(
                table.slice(bounds[k], bounds[k + 1] - bounds[k]),
                os.path.join(d, f"part-{k:05d}.parquet"),
            )
    return rows_written["documents"]


def make(name: str, seed: int, work: str, toy: bool):
    size = (TOY_SIZES if toy else SIZES)[name]
    cls = Registry if name == "registry" else Crawl
    return cls(name, seed, work, **size)
