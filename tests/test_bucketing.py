"""LSH embedding near-dup and IVF/LSH stored-index tests."""

from __future__ import annotations

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F  # noqa: E402

SF = "/root/testdata/sf0.01"


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


class TestEmbeddingLsh:
    def test_lsh_near_dups_subset_of_exact(self, spark):
        from go_readability_spark.operators.dedup import (
            embedding_near_dups,
            embedding_near_dups_lsh,
        )

        emb = spark.read.parquet(f"{SF}/embeddings.parquet").filter(
            "vec_id < 200"
        )
        exact = {
            (r["vec_a"], r["vec_b"]): r["cos"]
            for r in embedding_near_dups(emb, 0.25, None).collect()
        }
        approx = {
            (r["vec_a"], r["vec_b"]): r["cos"]
            for r in embedding_near_dups_lsh(emb, 0.25).collect()
        }
        # every LSH pair is a true pair with the identical cosine
        assert approx
        for pair, cos in approx.items():
            assert exact[pair] == cos

    def test_lsh_bucket_count_bounds_pairs(self, spark):
        from go_readability_spark.operators.similarity import lsh_bucket_col

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        buckets = emb.select(
            lsh_bucket_col(F.col("embedding"), 6, 64).alias("b")
        )
        n_buckets = buckets.distinct().count()
        assert 2 <= n_buckets <= 64

    def test_pandas_bucket_matches_catalyst(self, spark):
        """The Arrow-vectorized fast path (with_lsh_bucket) must agree
        bucket-for-bucket with the pure-Catalyst reference fold."""
        from go_readability_spark.operators.similarity import (
            lsh_bucket_col,
            with_lsh_bucket,
        )

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        rows = (
            with_lsh_bucket(emb, "embedding", 6, 64, out_col="fast")
            .withColumn("ref", lsh_bucket_col(F.col("embedding"), 6, 64))
            .filter(F.col("fast") != F.col("ref"))
            .count()
        )
        assert rows == 0

    def test_pandas_cosine_matches_catalyst(self, spark):
        """cosine_similarity_pandas must be bit-identical to the
        Catalyst HOF fold (same IEEE ops in the same order)."""
        from go_readability_spark.functions.vectors import (
            cosine_similarity,
            cosine_similarity_pandas,
        )

        emb = spark.read.parquet(f"{SF}/embeddings.parquet").filter(
            "vec_id < 80"
        )
        a = emb.select(
            F.col("vec_id").alias("ia"), F.col("embedding").alias("va")
        )
        b = emb.select(
            F.col("vec_id").alias("ib"), F.col("embedding").alias("vb")
        )
        pairs = a.join(b, F.col("ia") < F.col("ib"))
        mismatches = pairs.select(
            cosine_similarity(F.col("va"), F.col("vb")).alias("ref"),
            cosine_similarity_pandas(F.col("va"), F.col("vb")).alias("fast"),
        ).filter(F.col("ref") != F.col("fast")).count()
        assert mismatches == 0

    def test_pandas_bucket_hostile_vectors_match_catalyst(self, spark):
        """NaN projections and length-mismatched vectors must take the
        SAME branch in the numpy fast path as in the Catalyst reference:
        Spark compares doubles with total ordering (NaN >= 0 is TRUE,
        setting the bit), and zip_with null-padding poisons the fold of
        a wrong-length vector into bucket 0 on every plane."""
        from go_readability_spark.operators.similarity import (
            lsh_bucket_col,
            with_lsh_bucket,
        )

        dim = 4
        data = [
            (1, [float("nan")] * dim),              # NaN projection
            (2, [1.0, -2.0]),                       # too short
            (3, [0.5] * (dim + 3)),                 # too long
            (4, [0.25, -0.75, 1.5, -0.125]),        # plain
            (5, []),                                # empty
            (6, None),                              # NULL vector
        ]
        emb = spark.createDataFrame(data, "vec_id int, embedding array<double>")
        got = (
            with_lsh_bucket(emb, "embedding", 3, dim, out_col="fast")
            .withColumn("ref", lsh_bucket_col(F.col("embedding"), 3, dim))
            .select("vec_id", "fast", "ref")
            .collect()
        )
        for r in got:
            assert r["fast"] == r["ref"], (r["vec_id"], r["fast"], r["ref"])
        by_id = {r["vec_id"]: r["fast"] for r in got}
        assert by_id[1] == 7      # NaN: every bit set (total ordering)
        assert by_id[2] == 0 and by_id[3] == 0 and by_id[5] == 0
        # NULL vector: the Catalyst fold is null → when(null) takes the
        # otherwise-0 branch on every plane; the numpy path must not
        # call len(None) (would kill the whole Arrow batch)
        assert by_id[6] == 0

    def test_pandas_cosine_ragged_pair_yields_null(self, spark):
        """A pair of unequal-length vectors must produce a NULL cosine
        (dropped by >= filters), exactly like the Catalyst reference —
        NOT NaN, which Spark's total ordering would KEEP."""
        from go_readability_spark.functions.vectors import (
            cosine_similarity,
            cosine_similarity_pandas,
        )

        df = spark.createDataFrame(
            [
                (1, [1.0, 2.0], [1.0, 2.0, 3.0]),
                (2, [1.0, 2.0], [2.0, 1.0]),
                (3, None, [1.0, 2.0]),              # NULL left vector
                (4, [1.0, 2.0], None),              # NULL right vector
            ],
            "pid int, va array<double>, vb array<double>",
        )
        rows = df.select(
            "pid",
            cosine_similarity(F.col("va"), F.col("vb")).alias("ref"),
            cosine_similarity_pandas(F.col("va"), F.col("vb")).alias("fast"),
        ).collect()
        by_id = {r["pid"]: r for r in rows}
        assert by_id[1]["ref"] is None and by_id[1]["fast"] is None
        # NULL vectors: Catalyst zip_with(null, y) is null → null cosine;
        # the numpy path must not call len(None) (batch-killer)
        assert by_id[3]["ref"] is None and by_id[3]["fast"] is None
        assert by_id[4]["ref"] is None and by_id[4]["fast"] is None
        assert by_id[2]["ref"] == by_id[2]["fast"] is not None
        kept = df.filter(
            cosine_similarity_pandas(F.col("va"), F.col("vb")) >= -1.0
        ).count()
        assert kept == 1  # ragged and NULL pairs dropped, not NaN-kept

    def test_pandas_cosine_mixed_lengths_one_batch(self, spark):
        """Valid pairs of DIFFERENT dims in the SAME Arrow batch: the
        per-row length check passes for each, but a single np.stack
        over all of them would be ragged and kill the task — the fast
        path must stack per length group and still match Catalyst
        bit-for-bit (two len-2 pairs, one len-3 pair, one ragged, one
        NULL, forced into one partition)."""
        from go_readability_spark.functions.vectors import (
            cosine_similarity,
            cosine_similarity_pandas,
        )

        import math

        df = spark.createDataFrame(
            [
                (1, [1.0, 2.0], [2.0, 1.0]),
                (2, [1.0, 2.0, 3.0], [3.0, 2.0, 1.0]),
                (3, [0.5, -0.5], [0.25, 0.75]),
                (4, [1.0, 2.0], [1.0, 2.0, 3.0]),   # ragged pair
                (5, None, [1.0, 2.0]),              # NULL vector
                (6, [0.0, 0.0], [1.0, 2.0]),        # zero norm -> NULL
                (7, [float("nan"), 1.0], [1.0, 2.0]),  # NaN data -> NaN
            ],
            "pid int, va array<double>, vb array<double>",
        ).repartition(1)
        rows = df.select(
            "pid",
            cosine_similarity(F.col("va"), F.col("vb")).alias("ref"),
            cosine_similarity_pandas(F.col("va"), F.col("vb")).alias("fast"),
        ).collect()
        by_id = {r["pid"]: r for r in rows}
        for pid in (1, 2, 3):
            assert by_id[pid]["ref"] == by_id[pid]["fast"] is not None, pid
        assert by_id[4]["ref"] is None and by_id[4]["fast"] is None
        assert by_id[5]["ref"] is None and by_id[5]["fast"] is None
        # zero-norm vector: NULL on BOTH paths (try_divide semantics ==
        # DuckDB x/0 -> NULL; plain `/` would DIVIDE_BY_ZERO-crash the
        # whole query under Spark 4 ANSI, and the old numpy fast path
        # returned NaN — three different answers before the fix)
        assert by_id[6]["ref"] is None and by_id[6]["fast"] is None
        # genuinely-NaN data: NaN on BOTH paths even in a batch that
        # also holds invalid rows — the slow path's Float64 setitem
        # used to coerce NaN to NULL, making kept-vs-dropped depend on
        # batch composition (Spark's total ordering KEEPS NaN under
        # `cos >= t`, drops NULL)
        assert by_id[7]["ref"] is not None and math.isnan(by_id[7]["ref"])
        assert by_id[7]["fast"] is not None and math.isnan(by_id[7]["fast"])


class TestIvfCellHostile:
    def test_null_and_ragged_vectors_land_in_cell_minus1(self, spark):
        """NULL and length-mismatched vectors must assign cell -1 (never
        probed) without killing the Arrow batch — the Catalyst reference
        null-poisons their distances into a null cell, which the probe
        equi-filter drops the same way."""
        from go_readability_spark.operators.similarity import ivf_cell_udf

        cents = [(0, [0.0, 0.0]), (1, [10.0, 10.0])]
        df = spark.createDataFrame(
            [
                (1, [0.1, 0.2]),
                (2, [9.0, 9.5]),
                (3, None),
                (4, [1.0]),
                (5, []),
            ],
            "vec_id int, embedding array<double>",
        )
        got = {
            r["vec_id"]: r["cell"]
            for r in df.withColumn(
                "cell", ivf_cell_udf(cents)(F.col("embedding"))
            ).collect()
        }
        assert got == {1: 0, 2: 1, 3: -1, 4: -1, 5: -1}


class TestIvfStored:
    def test_ivf_stored_probe_is_partition_pruned(self, spark, tmp_path):
        """The stored IVF layout must (a) reproduce the in-plan
        ann_topk_ivf results exactly and (b) prune the non-probed cells
        at the PARTITION level — the scan's PartitionFilters must carry
        the cell IN-set, so (K - nprobe)/K of the corpus is never
        opened at 100 TB."""
        from go_readability_spark.operators.similarity import (
            ann_topk_ivf,
            ann_topk_ivf_stored,
            write_ivf_index,
        )

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        ref = ann_topk_ivf(emb, 0, 10, n_centroids=16, nprobe=4).collect()

        path = str(tmp_path / "ivf")
        cents = write_ivf_index(emb, path, 16)
        qvec = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 0)
            .select("embedding")
            .collect()[0]["embedding"]
        ]
        got_df = ann_topk_ivf_stored(spark, path, cents, qvec, 0, 10, 4)
        assert [tuple(r) for r in got_df.collect()] == [tuple(r) for r in ref]

        plan = _formatted(got_df)
        pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert pf and "cell" in pf[0] and " IN " in pf[0], plan
        # ragged/malformed vectors would land in cell=-1 — never probed
        assert "-1" not in pf[0]

    def test_lsh_stored_probe_is_partition_pruned(self, spark, tmp_path):
        """The stored LSH layout must reproduce ann_topk_lsh exactly
        (driver-side lsh_bucket_py = the same IEEE fold) and prune the
        non-probed buckets at the PARTITION level."""
        from go_readability_spark.operators.similarity import (
            ann_topk_lsh,
            ann_topk_lsh_stored,
            lsh_bucket_py,
            with_lsh_bucket,
            write_lsh_index,
        )

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        ref = ann_topk_lsh(emb, 0, 10, n_planes=4, dim=64).collect()

        path = str(tmp_path / "lsh")
        write_lsh_index(emb, path, 4, 64)
        qvec = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 0)
            .select("embedding")
            .collect()[0]["embedding"]
        ]
        # the driver-side bucket must equal the stored/Catalyst bucket
        spark_bucket = (
            with_lsh_bucket(emb.filter(F.col("vec_id") == 0), "embedding", 4, 64)
            .collect()[0]["bucket"]
        )
        assert lsh_bucket_py(qvec, 4, 64) == spark_bucket

        got_df = ann_topk_lsh_stored(spark, path, qvec, 0, 10, 4, 64)
        assert [tuple(r) for r in got_df.collect()] == [tuple(r) for r in ref]

        plan = _formatted(got_df)
        pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert pf and "bucket" in pf[0] and " IN " in pf[0], plan

    def test_stored_index_cache_key_tracks_source_and_params(self, tmp_path):
        """The /tmp layout cache key must change when the source table
        is regenerated (mtime) or the layout params change — a stale
        layout must never be probed against a newer table."""
        import os
        import time

        from go_readability_spark.queries import _stored_index_path

        sf = tmp_path / "sfX"
        src = sf / "embeddings.parquet"
        src.mkdir(parents=True)
        (src / "part-0.parquet").write_bytes(b"x")

        p1 = _stored_index_path(str(sf), "lsh", "4x64")
        assert _stored_index_path(str(sf), "lsh", "4x64") == p1  # stable
        assert _stored_index_path(str(sf), "lsh", "6x64") != p1  # params
        assert _stored_index_path(str(sf), "ivf", "4x64") != p1  # kind
        # regenerate the source -> new key
        now = time.time()
        os.utime(src / "part-0.parquet", (now + 5, now + 5))
        assert _stored_index_path(str(sf), "lsh", "4x64") != p1

    def test_age_out_marks_then_sweeps(self, tmp_path, monkeypatch):
        """Superseded index dirs are deleted only after a grace period
        measured from KEY ROTATION (the .superseded stamp), never from
        build mtime — an old-but-just-superseded layout a concurrent
        process may still be reading survives the first pass. In-flight
        .building.<pid> dirs are untouched while the pid is alive (even
        past the grace period); dead-pid orphans are swept once old."""
        import os
        import tempfile
        import time

        from go_readability_spark.queries import _age_out_stale_indexes

        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
        old = time.time() - 7200
        keep = tmp_path / "gr_spark_lsh_sfX_4x64_999"
        stale = tmp_path / "gr_spark_lsh_sfX_4x64_111"  # built long ago
        building_live = tmp_path / f"gr_spark_lsh_sfX_4x64_999.building.{os.getpid()}"
        building_dead = tmp_path / "gr_spark_lsh_sfX_4x64_999.building.999999999"
        for d in (keep, stale, building_live, building_dead):
            d.mkdir()
        for d in (stale, building_live, building_dead):
            os.utime(d, (old, old))

        _age_out_stale_indexes("gr_spark_lsh_sfX_", keep.name)
        # pass 1: stale dir only STAMPED (grace clock starts now)
        assert stale.exists() and (stale / ".superseded").exists()
        assert building_live.exists()      # alive builder: never touched
        assert not building_dead.exists()  # dead orphan, old: swept
        assert keep.exists()

        # stamp still fresh -> survives a second pass
        _age_out_stale_indexes("gr_spark_lsh_sfX_", keep.name)
        assert stale.exists()

        # age the STAMP past the grace period -> swept
        os.utime(stale / ".superseded", (old, old))
        _age_out_stale_indexes("gr_spark_lsh_sfX_", keep.name)
        assert not stale.exists()
        assert keep.exists() and building_live.exists()

    def test_age_out_defuses_stamp_on_current_key(self, tmp_path, monkeypatch):
        """A dir that IS the current key clears any .superseded stamp it
        carries (left by a key that rotated away and back, or by a
        concurrent process whose params differ): without the clear, the
        next rotation would delete it with ZERO grace while a reader is
        mid-scan."""
        import os
        import tempfile
        import time

        from go_readability_spark.queries import _age_out_stale_indexes

        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
        old = time.time() - 7200
        d = tmp_path / "gr_spark_lsh_sfX_4x64_111"
        d.mkdir()
        stamp = d / ".superseded"
        stamp.touch()
        os.utime(stamp, (old, old))  # an HOUR-old stamp from a past rotation

        # while current: stamp removed, dir untouched
        _age_out_stale_indexes("gr_spark_lsh_sfX_", d.name)
        assert d.exists() and not stamp.exists()

        # when it rotates away again it re-enters mark-then-sweep with a
        # FRESH grace window (pass 1 only stamps, never deletes)
        _age_out_stale_indexes("gr_spark_lsh_sfX_", "gr_spark_lsh_sfX_other")
        assert d.exists() and stamp.exists()
