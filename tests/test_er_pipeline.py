"""End-to-end ER pipeline tests on the deterministic synthetic fixture.

Covers SURVEY.md §5.2 items 4-6: pairwise F1 ≥ 0.99, determinism, resume
without recomputation, mega-block skew handling, plus plan-level checks
(html column pruned from the parquet scan; soundex Python/JVM parity).
"""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from indian_address_parser_spark.eval.pairwise import pairwise_scores
from indian_address_parser_spark.operators.blocking import block_stats, with_block_key
from indian_address_parser_spark.operators.cc import attach_clusters, connected_components
from indian_address_parser_spark.operators.extract import extract_mentions
from indian_address_parser_spark.operators.pairs import candidate_pairs
from indian_address_parser_spark.operators.scoring import score_pairs
from indian_address_parser_spark.plans.er_pipeline import run_pipeline
from indian_address_parser_spark.sources.pages import generate


@pytest.fixture(scope="module")
def fixture(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pages_fixture"))
    tables = generate(spark, n_households=400)
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(f"{root}/{name}.parquet")
    return {
        name: spark.read.parquet(f"{root}/{name}.parquet")
        for name in ("pages", "truth", "labeled_pairs")
    } | {"root": root}


class TestPagesFixture:
    def test_schema_matches_input_hint(self, fixture):
        fields = dict(fixture["pages"].dtypes)
        assert fields == {
            "url": "string",
            "warc_ts": "timestamp",
            "html": "binary",
            "text": "string",
            "lang": "string",
        }

    def test_deterministic_generation(self, spark, fixture):
        again = generate(spark, n_households=400)["pages"]
        a = fixture["pages"].select("url", "text", "lang").exceptAll(
            again.select("url", "text", "lang")
        )
        assert a.isEmpty()

    def test_mega_pincode_skew_present(self, fixture, spark):
        mentions = extract_mentions(fixture["pages"])
        top = (
            mentions.groupBy("pincode").count().orderBy(F.desc("count")).first()
        )
        assert top["pincode"] == "110041"


class TestExtraction:
    def test_every_truth_mention_extracted(self, fixture):
        mentions = extract_mentions(fixture["pages"])
        missing = fixture["truth"].join(
            mentions.select("mention_id"), "mention_id", "left_anti"
        )
        assert missing.isEmpty()

    def test_html_column_pruned_from_scan(self, fixture):
        mentions = extract_mentions(fixture["pages"])
        plan = mentions._jdf.queryExecution().executedPlan().toString()
        assert "html" not in plan  # binary column never read

    def test_raw_text_roundtrip(self, fixture):
        mentions = extract_mentions(fixture["pages"])
        joined = fixture["truth"].join(
            mentions.select("mention_id", F.col("raw").alias("raw_extracted")),
            "mention_id",
        )
        mismatch = joined.where(F.col("raw") != F.col("raw_extracted"))
        assert mismatch.isEmpty()


class TestSoundexParity:
    def test_python_soundex_matches_spark(self, spark):
        from indian_address_parser_spark.core.fuzzy import soundex

        words = [
            "LAJPAT", "NAGAR", "DWARKA", "PALAM", "SADARBAZAAR", "VIHAR",
            "ROHINI", "PITAMPURA", "KUNJ", "CHANDNICHOWK", "X", "BVGH",
            "AEIOU", "HWHW", "NAGER",
        ]
        df = spark.createDataFrame([(w,) for w in words], ["w"])
        got = {r["w"]: r["s"] for r in df.select("w", F.soundex("w").alias("s")).collect()}
        for w in words:
            assert soundex(w) == got[w], w


class TestPipeline:
    def test_f1_target(self, spark, fixture, tmp_path):
        report = run_pipeline(
            spark,
            fixture["pages"],
            str(tmp_path / "run1"),
            labeled_pairs=fixture["labeled_pairs"],
        )
        assert report["pairwise"]["f1"] >= 0.99, report["pairwise"]
        assert report["pairwise"]["precision"] >= 0.99

    def test_determinism_two_runs(self, spark, fixture, tmp_path):
        r1 = run_pipeline(spark, fixture["pages"], str(tmp_path / "a"), resume=False)
        r2 = run_pipeline(spark, fixture["pages"], str(tmp_path / "b"), resume=False)
        c1 = spark.read.parquet(str(tmp_path / "a" / "clusters"))
        c2 = spark.read.parquet(str(tmp_path / "b" / "clusters"))
        diff = c1.select("mention_id", "cluster_id").exceptAll(
            c2.select("mention_id", "cluster_id")
        )
        assert diff.isEmpty()

    def test_resume_skips_completed_stages(self, spark, fixture, tmp_path):
        wd = str(tmp_path / "resume")
        first = run_pipeline(spark, fixture["pages"], wd)
        assert first["resumed"] == []
        # simulate crash after stage 2: drop later stages' manifests
        for stage in ("edges", "clusters"):
            os.remove(os.path.join(wd, stage, "_manifest.json"))
        second = run_pipeline(spark, fixture["pages"], wd)
        assert second["resumed"] == ["mentions", "blocked"]
        # and a fully-complete rerun resumes everything
        third = run_pipeline(spark, fixture["pages"], wd)
        assert third["resumed"] == list(("mentions", "blocked", "edges", "clusters"))

    def test_resume_keys_on_threshold(self, spark, fixture, tmp_path):
        """A rerun under another threshold must not resume the old edges."""
        wd = str(tmp_path / "rethreshold")
        loose = run_pipeline(spark, fixture["pages"], wd, threshold=0.80)
        rerun = run_pipeline(spark, fixture["pages"], wd, threshold=0.99)
        fresh = run_pipeline(spark, fixture["pages"], str(tmp_path / "fresh"), threshold=0.99)
        assert rerun["resumed"] == ["mentions", "blocked"]
        edges = lambda r: r["stages"]["edges"]["rows"]  # noqa: E731
        assert edges(rerun) == edges(fresh) < edges(loose)

    def test_recomputed_stage_recomputes_downstream(self, spark, fixture, tmp_path):
        wd = str(tmp_path / "cascade")
        run_pipeline(spark, fixture["pages"], wd)
        os.remove(os.path.join(wd, "blocked", "_manifest.json"))
        again = run_pipeline(spark, fixture["pages"], wd)
        assert again["resumed"] == ["mentions"]
        # a manifest written under another code version never resumes
        path = os.path.join(wd, "clusters", "_manifest.json")
        with open(path) as f:
            m = json.load(f)
        m["key"]["version"] -= 1
        with open(path, "w") as f:
            json.dump(m, f)
        assert run_pipeline(spark, fixture["pages"], wd)["resumed"] == [
            "mentions", "blocked", "edges"
        ]

    def test_manifests_record_partitions(self, spark, fixture, tmp_path):
        wd = str(tmp_path / "manifest")
        run_pipeline(spark, fixture["pages"], wd)
        for stage in ("mentions", "blocked", "edges", "clusters"):
            with open(os.path.join(wd, stage, "_manifest.json")) as f:
                m = json.load(f)
            assert m["rows"] == sum(m["partitions"].values())
            assert m["rows"] > 0


class TestFieldSpecScorer:
    """score_pairs on literal pair rows under a small spec."""

    SPEC = (
        ("h", 0.5, "jw", True),
        ("c", 0.3, "lev", False),
        ("p", 0.2, "eq", False),
    )
    # (id_a, id_b, h_a, h_b, c_a, c_b, p_a, p_b, expected score)
    ROWS = [
        ("1", "2", "HNO 12", "H NO 12", "DELHI", "DELHI", "1", "1", 0.5 * 0.907143 + 0.5),
        ("3", "4", "HNO 12", "HNO 12", "DELHI", "DELHY", "1", "1", 0.5 + 0.3 * 0.8 + 0.2),
        ("5", "6", "HNO 12", "HNO 12", "DELHI", "DELHI", "1", "2", 0.8),
        ("7", "8", "HNO 12", "HNO 12", None, "DELHI", "1", "2", 0.5 / 0.7),
        ("9", "10", "HNO 45", "HNO 46", "DELHI", "DELHI", "1", "1", 0.5),
        ("11", "12", None, "HNO 46", "DELHI", "DELHI", "1", "1", 1.0),
    ]

    @pytest.fixture(scope="class")
    def pairs(self, spark):
        digits = lambda v: None if v is None else "".join(ch for ch in v if ch.isdigit())  # noqa: E731
        rows = [
            (a, b, ha, hb, digits(ha), digits(hb), ca, cb, pa, pb)
            for a, b, ha, hb, ca, cb, pa, pb, _ in self.ROWS
        ]
        cols = ("mention_id_a mention_id_b h_a h_b h_digits_a h_digits_b "
                "c_a c_b p_a p_b").split()
        return spark.createDataFrame(rows, ", ".join(f"{c} string" for c in cols))

    def _scores(self, pairs, threshold):
        out = score_pairs(pairs, threshold=threshold, spec=self.SPEC).collect()
        return {r["src"]: r["score"] for r in out}

    def test_each_similarity_null_renorm_and_digit_guard(self, pairs):
        got = self._scores(pairs, 0.0)
        want = {r[0]: r[-1] for r in self.ROWS}
        assert got.keys() == want.keys()
        for k, v in want.items():
            assert got[k] == pytest.approx(v, abs=2e-6), k

    def test_ceiling_prune_drops_only_unreachable_pairs(self, pairs):
        everything = self._scores(pairs, 0.0)
        # the h digit guard caps a mismatching pair at (1 - 0.5) / 1 = 0.5
        for t in (0.45, 0.5, 0.55, 0.79, 0.9):
            assert self._scores(pairs, t) == {
                k: v for k, v in everything.items() if v >= t
            }, t

        def pruned(t):
            plan = score_pairs(pairs, threshold=t, spec=self.SPEC)._jdf.queryExecution()
            return any(
                "Filter" in line and "h_digits_a" in line
                for line in plan.optimizedPlan().toString().splitlines()
            )

        assert pruned(0.55) and not pruned(0.45)


class TestSessionWarmup:
    def test_warmup_failures_are_logged_not_raised(self, spark, monkeypatch, caplog):
        from indian_address_parser_spark.plans import session
        from indian_address_parser_spark.sources import pages

        def boom(*a, **k):
            raise RuntimeError("fixture unavailable")

        monkeypatch.setattr(pages, "generate", boom)
        session._warm_python_workers(spark)  # the micro ER chain fails inside
        monkeypatch.setattr(session, "_warm_python_workers", boom)
        again = session.get_spark(app_name="iaps-tests", shuffle_partitions=8, warm_workers=True)
        assert again is spark
        warned = [r.getMessage() for r in caplog.records if r.name == session.__name__]
        assert len(warned) == 2 and all("RuntimeError" in m for m in warned), warned


class TestSkewHandling:
    def test_mega_block_gets_secondary_key(self, spark, fixture):
        mentions = extract_mentions(fixture["pages"])
        blocked = with_block_key(mentions, max_block_size=50)
        mega = blocked.where(
            (F.col("block_size") > 50) & (F.col("join_key") == F.col("block_key"))
        )
        assert mega.isEmpty()  # every oversized block was sub-split

    def test_secondary_split_bounds_pairs(self, spark, fixture):
        mentions = extract_mentions(fixture["pages"]).cache()
        loose = candidate_pairs(with_block_key(mentions, max_block_size=10**9)).count()
        tight = candidate_pairs(with_block_key(mentions, max_block_size=50)).count()
        assert tight <= loose

    def test_secondary_split_preserves_recall(self, spark, fixture, tmp_path):
        report = run_pipeline(
            spark,
            fixture["pages"],
            str(tmp_path / "skew"),
            max_block_size=20,  # force splitting of most blocks
            labeled_pairs=fixture["labeled_pairs"],
        )
        assert report["pairwise"]["f1"] >= 0.99, report["pairwise"]


class TestConnectedComponents:
    @pytest.mark.parametrize("stars", ["window", "join"])
    def test_matches_bruteforce_on_random_graph(self, spark, stars):
        # deterministic pseudo-random graph over 60 nodes
        edges = [
            (f"n{(i * 13) % 60}", f"n{(i * 29 + 7) % 60}") for i in range(45)
        ]
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {
            r["mention_id"]: r["cluster_id"]
            for r in connected_components(df, stars=stars).collect()
        }

        # union-find reference
        parent: dict[str, str] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in edges:
            union(a, b)
        expected_groups: dict[str, list[str]] = {}
        for node in parent:
            expected_groups.setdefault(find(node), []).append(node)
        for root, members in expected_groups.items():
            want = min(members)
            for mbr in members:
                assert got[mbr] == want, (mbr, got[mbr], want)

    def test_auto_switches_to_join_on_mega_component(self, spark):
        """A hub-and-spoke mega-component must push 'auto' onto the join
        path (the window formulation would put the whole neighborhood in a
        single window partition), with output still matching brute force."""
        hub_edges = [("hub", f"m{i:03d}") for i in range(50)]
        # plus a separate bounded household to show mixed graphs still work
        hh_edges = [("a1", "a2"), ("a2", "a3")]
        df = spark.createDataFrame(hub_edges + hh_edges, ["src", "dst"])
        log: list = []
        got = {
            r["mention_id"]: r["cluster_id"]
            for r in connected_components(
                df, giant_degree_threshold=10, _strategy_log=log
            ).collect()
        }
        assert log and all(s == "join" for s in log), log
        assert got["hub"] == "hub"
        assert all(got[f"m{i:03d}"] == "hub" for i in range(50))
        assert got["a1"] == got["a2"] == got["a3"] == "a1"

    def test_auto_stays_on_window_below_threshold(self, spark):
        edges = [(f"h{i}a", f"h{i}b") for i in range(20)]
        df = spark.createDataFrame(edges, ["src", "dst"])
        log: list = []
        got = connected_components(df, _strategy_log=log).collect()
        assert log and all(s == "window" for s in log), log
        assert len(got) == 40

    def test_auto_matches_fixed_strategies(self, spark):
        edges = [
            (f"n{(i * 13) % 60}", f"n{(i * 29 + 7) % 60}") for i in range(45)
        ]
        df = spark.createDataFrame(edges, ["src", "dst"])
        runs = {
            s: sorted(
                (r["mention_id"], r["cluster_id"])
                for r in connected_components(df, stars=s).collect()
            )
            for s in ("auto", "window", "join")
        }
        assert runs["auto"] == runs["window"] == runs["join"]

    def test_singletons_become_own_cluster(self, spark):
        edges = spark.createDataFrame([("a", "b")], ["src", "dst"])
        mentions = spark.createDataFrame([("a",), ("b",), ("c",)], ["mention_id"])
        out = attach_clusters(mentions, connected_components(edges))
        got = {r["mention_id"]: r["cluster_id"] for r in out.collect()}
        assert got == {"a": "a", "b": "a", "c": "c"}

    def test_label_step_follows_skew_posture(self, spark):
        """The final labeling must match the star loop's skew posture
        (VERDICT r3 #1): under the giant-component posture it is
        partial-agg + join — window partitions are not skew-splittable,
        so a giant component would serialize onto one task exactly when
        the join-star guard fires. With bounded components the cheap
        single-exchange window is used instead (the r4 scaling run
        measured always-agg+join as a −8% efficiency tax on the link
        stage)."""
        edges = [(f"n{(i * 13) % 60}", f"n{(i * 29 + 7) % 60}") for i in range(45)]
        df = spark.createDataFrame(edges, ["src", "dst"])
        giant_log: list = []
        a = connected_components(
            df, giant_degree_threshold=2, _explain_log=giant_log
        ).collect()
        assert giant_log, "explain hook did not fire"
        assert "Window" not in giant_log[0], giant_log[0]
        assert "Aggregate" in giant_log[0]
        bounded_log: list = []
        b = connected_components(df, _explain_log=bounded_log).collect()
        assert "Window" in bounded_log[0], bounded_log[0]
        # both postures label identically
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def _bruteforce_clusters(edges):
    """Union-find reference labeling: {node: min(component)}."""
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups: dict[str, list[str]] = {}
    for node in parent:
        groups.setdefault(find(node), []).append(node)
    return {m: min(members) for members in groups.values() for m in members}


class TestHashCollisionGuard:
    """The CC loop runs on xxhash64 keys; at 10^12 nodes n²/2⁶⁴ collisions
    become real merges. The runtime audit must detect a collided key space
    and either fall back to string keys (correct output) or raise."""

    EDGES = [(f"n{(i * 13) % 60}", f"n{(i * 29 + 7) % 60}") for i in range(45)]

    def test_forced_collision_fallback_matches_bruteforce(self, spark, monkeypatch):
        from indian_address_parser_spark.operators import cc as cc_mod

        # collapse the key space to ≤4 values: guaranteed collisions, and
        # any loop run on these keys would merge unrelated components
        monkeypatch.setattr(cc_mod, "_hash_id", lambda col: F.xxhash64(col) % 4)
        df = spark.createDataFrame(self.EDGES, ["src", "dst"])
        got = {
            r["mention_id"]: r["cluster_id"]
            for r in cc_mod.connected_components(df, audit_min_nodes=0).collect()
        }
        assert got == _bruteforce_clusters(self.EDGES)

    def test_forced_collision_error_mode_raises(self, spark, monkeypatch):
        from indian_address_parser_spark.operators import cc as cc_mod

        monkeypatch.setattr(cc_mod, "_hash_id", lambda col: F.lit(7).cast("long"))
        df = spark.createDataFrame(self.EDGES, ["src", "dst"])
        with pytest.raises(RuntimeError, match="collision"):
            cc_mod.connected_components(df, on_hash_collision="error", audit_min_nodes=0)

    def test_audit_gated_by_node_count(self, spark, monkeypatch):
        """Below ``audit_min_nodes`` (default 10⁸ — P(collision) ≤ 2.7e-4)
        the audit jobs must not run at all: even a force-collided key
        space sails through error mode, proving no audit agg executed.
        The gate is what keeps small-graph CC at the r3 job structure."""
        from indian_address_parser_spark.operators import cc as cc_mod

        monkeypatch.setattr(cc_mod, "_hash_id", lambda col: F.xxhash64(col) % 4)
        df = spark.createDataFrame(self.EDGES, ["src", "dst"])
        out = cc_mod.connected_components(df, on_hash_collision="error").collect()
        assert out  # no RuntimeError: the audit never ran at 60 nodes

    def test_clean_hash_space_stays_on_hash_path(self, spark, monkeypatch):
        """No collision → the (cheap) hash path must be used, not the
        fallback: instrument _hash_id and count invocations."""
        from indian_address_parser_spark.operators import cc as cc_mod

        calls = []
        real = cc_mod._hash_id
        monkeypatch.setattr(
            cc_mod, "_hash_id", lambda col: calls.append(1) or real(col)
        )
        df = spark.createDataFrame(self.EDGES, ["src", "dst"])
        got = {
            r["mention_id"]: r["cluster_id"]
            for r in cc_mod.connected_components(df, audit_min_nodes=0).collect()
        }
        assert got == _bruteforce_clusters(self.EDGES)
        # nodes build (1) + initial edge keying (2) = 3 calls; the string
        # fallback would have rebuilt nodes WITHOUT calling _hash_id again
        assert len(calls) == 3, calls


class TestMegaComponentEndToEnd:
    def test_full_pipeline_survives_giant_cluster(self, spark, tmp_path):
        """VERDICT r3 #1 'done' gate: a mega-component runs through the
        COMPLETE pipeline — extract → block → score → CC *including the
        label step* — with the auto guard on the join-star path."""
        addr = "H.NO 12, GALI NO 4, LAJPAT NAGAR, NEW DELHI 110024"
        pages = spark.createDataFrame(
            [(f"https://mega.example.org/p/{i:04d}", addr) for i in range(120)],
            ["url", "text"],
        )
        log: list = []
        run_pipeline(
            spark,
            pages,
            str(tmp_path / "mega"),
            cc_giant_degree_threshold=10,
            _cc_strategy_log=log,
        )
        assert log and all(s == "join" for s in log), log
        clusters = spark.read.parquet(str(tmp_path / "mega" / "clusters"))
        sizes = clusters.groupBy("cluster_id").count().collect()
        assert len(sizes) == 1 and sizes[0]["count"] == 120, sizes


class TestEmptyBatches:
    def test_extract_zero_mention_partitions(self, spark):
        """A partition whose pages contain NO address mentions must yield a
        typed empty Arrow batch (regression: pd.DataFrame of empty lists
        defaults to float64 and Arrow cannot cast float64 → the entities
        list<struct> — crashed any address-free partition)."""
        from indian_address_parser_spark.operators.extract import extract_mentions

        pages = spark.createDataFrame(
            [("http://x", "nothing here"), ("http://y", "plain text")],
            ["url", "text"],
        ).repartition(4)
        out = extract_mentions(pages)
        assert out.count() == 0
        assert "entities" in [f.name for f in out.schema.fields]

    def test_streaming_extract_no_join_and_warc_ts_passthrough(self, spark, tmp_path):
        """warc_ts rides through the mapInPandas UDF: no Join node in the
        streaming plan, and the deduped sink carries the event time."""
        import pyspark.sql.functions as F

        from indian_address_parser_spark.streaming.stream import (
            stream_dedup_mentions,
            stream_extract_mentions,
        )

        src = str(tmp_path / "src")
        pages = spark.createDataFrame(
            [
                ("http://a", "2024-01-01 00:00:00", "H NO 45, LAJPAT NAGAR, NEW DELHI 110024"),
                ("http://b", "2024-01-01 00:01:00", "no address here"),
                ("http://a", "2024-01-01 00:02:00", "H NO 45, LAJPAT NAGAR, NEW DELHI 110024"),
            ],
            ["url", "ts", "text"],
        ).withColumn("warc_ts", F.col("ts").cast("timestamp")).drop("ts")
        pages.write.parquet(src)
        stream = spark.readStream.schema(pages.schema).parquet(src)
        mentions = stream_dedup_mentions(stream_extract_mentions(stream))
        assert "Join" not in mentions._jdf.queryExecution().analyzed().toString()
        out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        q = (
            mentions.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        res = spark.read.parquet(out)
        rows = res.select("mention_id", "warc_ts").collect()
        assert len(rows) == 1 and rows[0]["mention_id"] == "http://a#0"
        assert rows[0]["warc_ts"] is not None


class TestIcebergGate:
    def test_iceberg_detection_and_fallback(self, spark, tmp_path):
        """Without the iceberg-spark-runtime jar the pipeline must fall back
        to parquet even when an iceberg prefix is requested, and record the
        storage format in the stage manifest."""
        import json

        from indian_address_parser_spark.plans.er_pipeline import (
            iceberg_available,
            run_pipeline,
        )
        from indian_address_parser_spark.sources.pages import generate

        has_iceberg = iceberg_available(spark)
        pages = generate(spark, n_households=50)["pages"]
        wd = str(tmp_path / "er")
        run_pipeline(spark, pages, wd, iceberg_prefix="local.db")
        with open(f"{wd}/mentions/_manifest.json") as f:
            manifest = json.load(f)
        expected = "iceberg" if has_iceberg else "parquet"
        assert manifest["storage"]["format"] == expected
        if not has_iceberg:
            import os

            assert any(p.endswith(".parquet") for p in os.listdir(f"{wd}/mentions"))
