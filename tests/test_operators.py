"""Operator-level Spark tests: dedup family, ANN, multimodal plumbing,
checkpoint/resume."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
            (2, "The  quick brown FOX jumps over the lazy dog"),  # normalized dup
            (3, "the quick brown fox jumps over the lazy cat today"),  # near dup
            (4, "completely different content about spark engines and shuffles"),
            (5, "completely different content about spark engines and shuffles"),
        ],
        ["doc_id", "text"],
    )
    return df.cache()


class TestDedup:
    def test_exact_dedup_groups(self, docs):
        from pdf_ocr_engine_spark.operators.dedup import exact_dedup

        groups = {r.keep_id: r.n_dups for r in exact_dedup(docs).collect()}
        assert groups[0] == 3   # 0,1,2 normalize identically
        assert groups[3] == 1
        assert groups[4] == 2

    def test_drop_exact_dups(self, docs):
        from pdf_ocr_engine_spark.operators.dedup import drop_exact_dups

        kept = sorted(r.doc_id for r in drop_exact_dups(docs).collect())
        assert kept == [0, 3, 4]

    def test_minhash_finds_near_dups(self, docs):
        from pdf_ocr_engine_spark.operators.dedup import minhash_dedup_pairs

        pairs = {(r.id_a, r.id_b)
                 for r in minhash_dedup_pairs(docs, min_jaccard=0.9).collect()}
        assert (0, 1) in pairs and (0, 2) in pairs and (1, 2) in pairs
        assert (4, 5) in pairs
        assert (0, 4) not in pairs

    def test_minhash_near_threshold(self, docs):
        from pdf_ocr_engine_spark.operators.dedup import minhash_dedup_pairs

        pairs = {(r.id_a, r.id_b)
                 for r in minhash_dedup_pairs(docs, min_jaccard=0.3).collect()}
        assert (0, 3) in pairs  # near-dup caught at a looser threshold

    def test_simhash_hamming(self, docs):
        from pdf_ocr_engine_spark.operators.dedup import (
            simhash64,
            simhash_candidate_pairs,
        )

        h = simhash64(docs)
        vals = {r.doc_id: r.simhash for r in h.collect()}
        assert vals[0] == vals[1]  # identical docs, identical hash
        pairs = {(r.id_a, r.id_b): r.hamming
                 for r in simhash_candidate_pairs(
                     h, max_hamming=10, n_bands=16).collect()}
        assert pairs[(0, 1)] == 0
        assert (4, 5) in pairs and pairs[(4, 5)] == 0
        # pigeonhole guard: a hamming bound the bands can't guarantee raises
        import pytest as _pytest
        with _pytest.raises(ValueError, match="pigeonhole"):
            simhash_candidate_pairs(h, max_hamming=10, n_bands=4)

    def test_verify_pairs_jaccard_matches_exact_tier(self, docs):
        """The post-LSH verify tier must agree with the all-pairs exact tier
        on every candidate pair it is given (same numbers, no crossJoin)."""
        from pdf_ocr_engine_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
            ngram_jaccard_pairs,
            verify_pairs_jaccard,
        )

        exact = {(r.id_a, r.id_b): (r.n_inter, r.n_union, r.jaccard_pm)
                 for r in ngram_jaccard_pairs(docs).collect()}
        cands = lsh_candidate_pairs(minhash_signatures(docs))
        verified = {(r.id_a, r.id_b): (r.n_inter, r.n_union, r.jaccard_pm)
                    for r in verify_pairs_jaccard(cands, docs).collect()}
        assert verified  # non-vacuous
        for pair, stats in verified.items():
            assert exact[pair] == stats

    def test_embedding_lsh_banded_finds_planted_twins(self, spark):
        """Banded RP-LSH must recover every planted near-duplicate (the
        containment property the registry oracle value-checks)."""
        import numpy as np

        from pdf_ocr_engine_spark.operators.dedup import embedding_neardup_lsh

        rng = np.random.RandomState(7)
        base = rng.standard_normal((40, 64))
        base /= np.linalg.norm(base, axis=1, keepdims=True)
        rows = [(i, base[i].tolist()) for i in range(40)]
        rows += [(1000 + i, (base[i] + 0.01 * rng.standard_normal(64)).tolist())
                 for i in range(40)]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        found = {(r.id_a, r.id_b)
                 for r in embedding_neardup_lsh(df, threshold=0.9).collect()}
        for i in range(40):
            assert (i, 1000 + i) in found

    def test_simhash_deterministic_across_runs(self, docs, spark):
        from pdf_ocr_engine_spark.operators.dedup import simhash64

        a = {r.doc_id: r.simhash for r in simhash64(docs).collect()}
        b = {r.doc_id: r.simhash for r in simhash64(docs).collect()}
        assert a == b

    def test_ngram_jaccard_exact(self, docs):
        from pdf_ocr_engine_spark.operators.dedup import ngram_jaccard_pairs

        rows = {(r.id_a, r.id_b): (r.n_inter, r.n_union, r.jaccard_pm)
                for r in ngram_jaccard_pairs(docs).collect()}
        assert rows[(0, 1)][2] == 1000  # identical → jaccard 1.000
        assert rows[(0, 4)][0] == 0     # disjoint bigrams


class TestAnn:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

    def test_bruteforce_self_is_top1(self, emb):
        from pdf_ocr_engine_spark.operators.ann import cosine_topk_df

        top = cosine_topk_df(emb, emb.where(F.col("vec_id") == 7),
                             k=5).collect()
        assert top[0].vec_id == 7
        assert abs(top[0].cosine - 1.0) < 1e-9
        sims = [r.cosine for r in top]
        assert sims == sorted(sims, reverse=True)

    def test_multiprobe_bits_respected(self, emb):
        from pdf_ocr_engine_spark.operators.ann import lsh_bucket_ann_df

        q = emb.where("vec_id = 0")
        # k > corpus so the result IS the candidate set (top-k of a superset
        # could otherwise displace members)
        r1 = {r.vec_id for r in
              lsh_bucket_ann_df(emb, q, k=10**6, n_bits=6,
                                max_hamming=1).collect()}
        r2 = {r.vec_id for r in
              lsh_bucket_ann_df(emb, q, k=10**6, n_bits=6,
                                max_hamming=2).collect()}
        assert r1 <= r2          # more probes never shrink the candidate set
        assert len(r2) > len(r1)

    def test_lsh_recalls_self_bucket(self, emb):
        from pdf_ocr_engine_spark.operators.ann import (
            cosine_topk_df,
            lsh_bucket_ann_df,
        )

        q = emb.where(F.col("vec_id") == 7)
        approx = lsh_bucket_ann_df(emb, q, k=5, n_bits=5,
                                   max_hamming=1).collect()
        # the query vector itself is guaranteed recall (same bucket);
        # broader recall depends on data clustering, not asserted here
        assert approx and approx[0].vec_id == 7
        exact_ids = {r.vec_id for r in cosine_topk_df(emb, q, k=5).collect()}
        approx_ids = {r.vec_id for r in approx}
        assert len(exact_ids & approx_ids) >= 1


class TestMultimodal:
    @pytest.mark.parametrize("length", [8, 9, 10, 11])
    def test_truncated_fake_header_is_value_error(self, length):
        from pdf_ocr_engine_spark.operators.multimodal import (
            decode_frame_pixels,
            decode_image_pixels,
            encode_fake_image,
            encode_fake_video,
        )

        with pytest.raises(ValueError, match="header truncated"):
            decode_image_pixels(encode_fake_image(4, 4)[:length])
        with pytest.raises(ValueError, match="header truncated"):
            decode_frame_pixels(encode_fake_video(1000)[:length], 0)

    def test_header_probe(self, spark):
        from pdf_ocr_engine_spark.operators.multimodal import (
            encode_fake_audio,
            encode_fake_image,
            media_metadata,
        )

        df = spark.createDataFrame(
            [(1, encode_fake_image(640, 480, b"pix")),
             (2, encode_fake_audio(2500)),
             (3, b"\x00garbage"),
             (4, None)],
            ["doc_id", "media"],
        )
        rows = {r.doc_id: r for r in media_metadata(df).collect()}
        assert (rows[1].media_type, rows[1].width, rows[1].height) == ("image", 640, 480)
        assert rows[1].n_bytes == 15
        assert (rows[2].media_type, rows[2].duration_ms) == ("audio", 2500)
        assert rows[3].media_type == "unknown"
        assert rows[4].media_type == "empty"

    def test_truncated_header_is_data_not_failure(self, spark):
        from pdf_ocr_engine_spark.operators.multimodal import media_metadata

        df = spark.createDataFrame(
            [(1, b"FAKEIMG1\x01"), (2, b"FAKEVID1"), (3, b"FAKEAUD1\x00\x00")],
            ["doc_id", "media"])
        rows = {r.doc_id: r.media_type for r in media_metadata(df).collect()}
        assert rows == {1: "corrupt", 2: "corrupt", 3: "corrupt"}

    def test_real_format_headers(self, spark):
        """PNG IHDR / JPEG SOF / GIF / WAV parsed from real header layouts
        (reference ocr.ts:67-71 sharp().metadata() analog)."""
        import struct as st

        from pdf_ocr_engine_spark.operators.multimodal import media_metadata

        png = (b"\x89PNG\r\n\x1a\n" + st.pack(">I", 13) + b"IHDR"
               + st.pack(">II", 320, 200) + b"\x08\x02\x00\x00\x00" + b"x" * 8)
        jpeg = (b"\xFF\xD8"
                + b"\xFF\xE0" + st.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
                + b"\xFF\xDB" + st.pack(">H", 4) + b"\x00\x00"
                + b"\xFF\xC0" + st.pack(">H", 11) + b"\x08"
                + st.pack(">HH", 240, 360) + b"\x03\x01\x00\x00"
                + b"\xFF\xD9")
        gif = b"GIF89a" + st.pack("<HH", 64, 48) + b"\x00" * 6
        wav = (b"RIFF" + st.pack("<I", 100) + b"WAVE"
               + b"fmt " + st.pack("<I", 16)
               + st.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
               + b"data" + st.pack("<I", 32000) + b"\x00" * 4)
        df = spark.createDataFrame(
            [(1, png), (2, jpeg), (3, gif), (4, wav)], ["doc_id", "media"])
        rows = {r.doc_id: (r.media_type, r.width, r.height, r.duration_ms)
                for r in media_metadata(df).collect()}
        assert rows[1] == ("image", 320, 200, None)
        assert rows[2] == ("image", 360, 240, None)   # SOF stores h, w
        assert rows[3] == ("image", 64, 48, None)
        assert rows[4] == ("audio", None, None, 2000)  # 32000 B / 16000 B/s

    def test_fake_pixel_decode_model(self):
        import numpy as np

        from pdf_ocr_engine_spark.operators.multimodal import (
            decode_image_pixels,
            encode_fake_image,
        )

        # payload bytes fill first; formula fills the rest
        img = encode_fake_image(3, 2, b"\x05\x06")
        px = decode_image_pixels(img)
        assert px.shape == (2, 3)
        assert px[0, 0] == 5 and px[0, 1] == 6
        assert px[0, 2] == (2 * 31 + 3 * 7 + 2 * 13) % 256
        # PNG/JPEG/GIF decode for real now — truncated ones are
        # undecodable DATA
        with pytest.raises(ValueError):
            decode_image_pixels(b"\x89PNG\r\n\x1a\nrest")
        with pytest.raises(ValueError):
            decode_image_pixels(b"\xFF\xD8\xFF\xE0rest")
        with pytest.raises(ValueError):
            decode_image_pixels(b"GIF89a rest")
        # an unknown container is the one remaining NIE plug point
        with pytest.raises(NotImplementedError):
            decode_image_pixels(b"BM unknown bitmap format")
        assert px.dtype == np.uint8

    def test_resize_nearest_neighbour(self, spark):
        import numpy as np

        from pdf_ocr_engine_spark.operators.multimodal import (
            decode_image_pixels,
            encode_fake_image,
            resize_images,
        )

        src = bytes(range(16))  # 4x4 image, pixels 0..15
        df = spark.createDataFrame(
            [(1, encode_fake_image(4, 4, src)), (2, b"\x89PNG junk"),
             (3, None)],
            ["doc_id", "media"])
        out = {r.doc_id: r for r in resize_images(df, 2, 2).collect()}
        assert out[2].media is None and out[3].media is None  # errors=values
        px = decode_image_pixels(bytes(out[1].media))
        ref = np.frombuffer(src, dtype=np.uint8).reshape(4, 4)[::2, ::2]
        assert (px == ref).all()
        assert (out[1].width, out[1].height) == (2, 2)

    def test_frame_pixels_deterministic(self):
        from pdf_ocr_engine_spark.operators.multimodal import (
            decode_frame_pixels,
            encode_fake_video,
        )

        vid = encode_fake_video(3000)
        f0 = decode_frame_pixels(vid, 0)
        f1 = decode_frame_pixels(vid, 500)
        assert f0.shape == (16, 16)
        assert f0[0, 0] == 0 and f1[0, 0] == 500 % 256
        assert f0[2, 3] == (3 * 7 + 2 * 13) % 256
        with pytest.raises(ValueError):
            decode_frame_pixels(vid, 3000)  # past end of clip
        with pytest.raises(NotImplementedError):
            decode_frame_pixels(b"\x00\x00\x01\xba mpeg-ps", 0)

    def test_embed_media_histogram(self, spark):
        import math

        from pdf_ocr_engine_spark.operators.multimodal import (
            embed_media,
            encode_fake_image,
        )

        df = spark.createDataFrame(
            [(1, encode_fake_image(2, 2, b"aaab")),  # 'a'=97 bin 24, 'b'=98
             (2, encode_fake_image(2, 2, b"")),      # empty -> zero vector
             (3, None)],
            ["doc_id", "media"])
        out = {r.doc_id: r.embedding for r in embed_media(df, dim=64).collect()}
        # 'a'=97 and 'b'=98 pool into the same bin (96..99)//4 == 24:
        # hist[24] = 4, L2 norm = 4 -> unit spike
        assert out[1][24] == pytest.approx(1.0)
        assert sum(out[1]) == pytest.approx(1.0)
        assert math.sqrt(sum(c * c for c in out[1])) == pytest.approx(1.0)
        assert out[2] == [0.0] * 64
        assert out[3] == [0.0] * 64
        with pytest.raises(ValueError):
            embed_media(df, dim=60)


    def test_frame_sample_explodes_rows(self, spark):
        from pdf_ocr_engine_spark.operators.multimodal import (
            encode_fake_video,
            frame_sample,
        )

        df = spark.createDataFrame(
            [(1, encode_fake_video(2200)),   # 0,500,...,2000 -> 5 frames
             (2, encode_fake_video(500)),    # exactly one period -> 1 frame
             (3, encode_fake_video(1)),      # 1 ms -> frame 0 only
             (4, b"FAKEIMG1\x01\x00\x01\x00"),  # not video -> no rows
             (5, None)],
            ["doc_id", "media"],
        )
        rows = frame_sample(df, every_ms=500).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append((r.frame_idx, r.ts_ms))
        assert sorted(by_doc[1]) == [(i, i * 500) for i in range(5)]
        assert by_doc[2] == [(0, 0)]
        assert by_doc[3] == [(0, 0)]
        assert 4 not in by_doc and 5 not in by_doc



def _completed_buckets(out):
    from pdf_ocr_engine_spark.plans.checkpoint import read_manifests

    return {b for m in read_manifests(out).values() for b in m["buckets"]}


class TestCheckpointResume:
    def test_interrupt_resume_equals_oneshot(self, spark, fixture_pages_path,
                                             build_dir):
        from pdf_ocr_engine_spark.plans.checkpoint import run_resumable

        pages = spark.read.parquet(fixture_pages_path)
        out = os.path.join(build_dir, "ckpt_out")
        shutil.rmtree(out, ignore_errors=True)

        # simulated interruption: only 2 chunks of 4 buckets each
        r1 = run_resumable(spark, pages, out, n_buckets=16, chunk_buckets=4,
                           max_chunks=2, run_id="r1")
        assert len(r1.processed_buckets) == 8
        assert len(_completed_buckets(out)) == 8
        n_partial = spark.read.parquet(f"{out}/data").count()

        # resume: must skip the 8 done buckets and finish the rest
        r2 = run_resumable(spark, pages, out, n_buckets=16, chunk_buckets=4,
                           run_id="r2")
        assert sorted(r2.skipped_buckets) == sorted(r1.processed_buckets)
        assert len(_completed_buckets(out)) == 16
        resumed = spark.read.parquet(f"{out}/data")
        assert resumed.count() == 120 > n_partial
        assert resumed.select("url").distinct().count() == 120

        # idempotence: a third run does nothing
        r3 = run_resumable(spark, pages, out, n_buckets=16, chunk_buckets=4)
        assert r3.processed_buckets == [] and r3.docs_written == 0
        assert spark.read.parquet(f"{out}/data").count() == 120

    def test_resumed_equals_oneshot_bytes(self, spark, fixture_pages_path,
                                          build_dir):
        from pdf_ocr_engine_spark.operators.extract import extract_pages
        from pdf_ocr_engine_spark.plans.checkpoint import run_resumable

        pages = spark.read.parquet(fixture_pages_path)
        out = os.path.join(build_dir, "ckpt_out2")
        shutil.rmtree(out, ignore_errors=True)
        run_resumable(spark, pages, out, n_buckets=8, chunk_buckets=3,
                      max_chunks=1)
        run_resumable(spark, pages, out, n_buckets=8, chunk_buckets=3)
        resumed = {r.url: r.text for r in
                   spark.read.parquet(f"{out}/data").select("url", "text").collect()}
        oneshot = {r.url: r.text for r in
                   extract_pages(pages).select("url", "text").collect()}
        assert resumed == oneshot

    def test_rerun_with_other_n_buckets_is_refused(self, spark,
                                                   fixture_pages_path,
                                                   build_dir):
        """Bucket ids only mean something under the n_buckets that wrote
        them: a rerun with another value must fail before any work instead
        of skipping the wrong documents."""
        from pdf_ocr_engine_spark.plans.checkpoint import run_resumable

        pages = spark.read.parquet(fixture_pages_path)
        out = os.path.join(build_dir, "ckpt_out3")
        shutil.rmtree(out, ignore_errors=True)
        run_resumable(spark, pages, out, n_buckets=16, chunk_buckets=4,
                      max_chunks=2)
        with pytest.raises(ValueError, match="n_buckets"):
            run_resumable(spark, pages, out, n_buckets=8, chunk_buckets=4)

        # the refused rerun left the checkpoint intact
        r = run_resumable(spark, pages, out, n_buckets=16, chunk_buckets=4)
        assert len(r.skipped_buckets) == 8 and len(r.processed_buckets) == 8
        resumed = spark.read.parquet(f"{out}/data")
        assert resumed.count() == 120
        assert resumed.select("url").distinct().count() == 120

    def test_uri_output_is_refused(self, build_dir, tmp_path, monkeypatch):
        """Manifests and the orphan sweep work on the local filesystem, so
        a URI output is refused before any Spark work (with no session and
        no pages, any would raise ``AttributeError``): nothing lands at the
        URI's path or under the working directory."""
        from pdf_ocr_engine_spark.plans.checkpoint import run_resumable

        out = os.path.join(build_dir, "ckpt_uri")
        shutil.rmtree(out, ignore_errors=True)
        monkeypatch.chdir(tmp_path)
        with pytest.raises(ValueError, match="local filesystem"):
            run_resumable(None, None, f"file://{out}", n_buckets=8)
        assert not os.path.exists(out)
        assert os.listdir(tmp_path) == []

    def test_killed_submit_resumes_to_clean_output(self, spark,
                                                   fixture_pages_path,
                                                   build_dir):
        """``spark-submit scripts/run_extract.py --resume`` is SIGKILLed
        after its first unit manifest and before its last; the rerun skips
        exactly the committed buckets and its rows equal a clean run's."""
        import contextlib
        import signal
        import subprocess
        import sys
        import time

        from pdf_ocr_engine_spark.plans.checkpoint import (
            read_manifests,
            run_resumable,
        )

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        out = os.path.join(build_dir, "ckpt_kill")
        clean = os.path.join(build_dir, "ckpt_kill_clean")
        for d in (out, clean):
            shutil.rmtree(d, ignore_errors=True)
        # 64 buckets at the CLI's 16 per chunk: 4 units, so a kill window
        cmd = ["spark-submit", "--master", "local[2]",
               os.path.join(repo, "scripts", "run_extract.py"),
               "--input", fixture_pages_path, "--output", out,
               "--resume", "--buckets", "64"]
        env = {**os.environ, "PYSPARK_PYTHON": sys.executable,
               "PYTHONPATH": os.pathsep.join(
                   p for p in (repo, os.environ.get("PYTHONPATH")) if p)}

        proc = subprocess.Popen(cmd, env=env, start_new_session=True,
                                stdout=subprocess.DEVNULL,
                                stderr=subprocess.DEVNULL)
        try:
            deadline = time.monotonic() + 300
            while (not read_manifests(out) and proc.poll() is None
                   and time.monotonic() < deadline):
                time.sleep(0.01)
        finally:
            with contextlib.suppress(ProcessLookupError):
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        committed = read_manifests(out)
        n_done = len(_completed_buckets(out))
        assert 0 < len(committed) < 4, "kill missed the window between units"

        rerun = subprocess.run(cmd, env=env, capture_output=True, text=True,
                               timeout=600)
        assert rerun.returncode == 0, rerun.stderr[-2000:]
        assert f"processed={64 - n_done} skipped={n_done} " in rerun.stdout
        after = read_manifests(out)
        assert len(_completed_buckets(out)) == 64
        assert all(after[u] == m for u, m in committed.items())
        assert sum(m["docs_in"] for m in after.values()) == 120

        run_resumable(spark, spark.read.parquet(fixture_pages_path), clean,
                      n_buckets=64)

        def rows(path):
            return sorted(spark.read.parquet(f"{path}/data")
                          .select("url", "status", "text").collect(),
                          key=lambda r: r.url)

        assert rows(out) == rows(clean)
        assert len(rows(out)) == 120


class TestAnnQuality:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")

    def test_lsh_recall_vs_bruteforce(self, spark, emb):
        """The approximate tier must actually find most true neighbours:
        recall@10 vs exact cosine top-10, averaged over 5 query vectors."""
        from pdf_ocr_engine_spark.operators.ann import (
            cosine_topk_df,
            lsh_bucket_ann_df,
        )

        recalls = []
        for qid in range(5):
            q = emb.where(f"vec_id = {qid}")
            exact = {r.vec_id for r in cosine_topk_df(emb, q, k=10).collect()}
            approx = {r.vec_id
                      for r in lsh_bucket_ann_df(emb, q, k=10, n_bits=6,
                                                 max_hamming=1).collect()}
            recalls.append(len(exact & approx) / 10)
        # the synthetic embeddings are near-random (no cluster structure), so
        # the ceiling for any bucketing scheme is low; the gate is "well above
        # chance": ~4 of 64 buckets probed => random recall ~= 0.06
        assert sum(recalls) / len(recalls) >= 0.15, recalls


class TestConnectedComponents:
    def test_chain_cycle_and_singletons(self, spark):
        """A~B~C chain collapses to one component even though A~C was never
        emitted; disjoint pairs stay separate; cycles converge."""
        from pdf_ocr_engine_spark.operators.dedup import connected_components

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3),            # chain
             (10, 11),                  # disjoint pair
             (20, 21), (21, 22), (22, 20)],  # cycle
            ["id_a", "id_b"])
        comps = {r.node: r.component
                 for r in connected_components(pairs).collect()}
        assert comps == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                         20: 20, 21: 20, 22: 20}

    def test_self_loop_only_node_labels_itself(self, spark):
        """ADVICE r3: a node appearing ONLY as a reflexive pair (x, x) must
        still get its (node, component=node) row — node identity is
        captured before self-loops are dropped."""
        from pdf_ocr_engine_spark.operators.dedup import connected_components

        pairs = spark.createDataFrame(
            [(7, 7),              # self-loop-only node
             (1, 2), (2, 2)],     # pair + reflexive noise on a member
            ["id_a", "id_b"])
        comps = {r.node: r.component
                 for r in connected_components(pairs).collect()}
        assert comps == {7: 7, 1: 1, 2: 1}

    def test_pathological_chain_converges_in_log_rounds(self, spark):
        """A 10k-node path graph has diameter 10k — min-label propagation
        needs 10k rounds; large-star/small-star must finish in ~log₂(n).
        max_iter=16 (⌈log₂ 10000⌉=14 + slack) is the hard budget: the old
        algorithm cannot pass this test."""
        from pdf_ocr_engine_spark.operators.dedup import connected_components

        n = 10_000
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"])
        comps = connected_components(edges, max_iter=16)
        assert comps.where("component != 0").count() == 0
        assert comps.count() == n

    def test_dedup_keepers_end_to_end(self, spark):
        from pdf_ocr_engine_spark.operators.dedup import dedup_keepers

        docs = spark.createDataFrame(
            [(i, f"text {i}") for i in range(6)], ["doc_id", "text"])
        pairs = spark.createDataFrame([(0, 3), (3, 5)], ["id_a", "id_b"])
        kept = sorted(r.doc_id for r in dedup_keepers(docs, pairs).collect())
        # cluster {0,3,5} keeps 0; 1,2,4 untouched
        assert kept == [0, 1, 2, 4]


class TestLshGuards:
    def test_bands_must_divide_hashes(self, spark):
        from pdf_ocr_engine_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
        )

        docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
        sigs = minhash_signatures(docs, n_hashes=64)
        with pytest.raises(ValueError, match="must divide"):
            lsh_candidate_pairs(sigs, bands=7, n_hashes=64)
        with pytest.raises(ValueError, match="must divide"):
            lsh_candidate_pairs(sigs, bands=128, n_hashes=64)


class TestIvf:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet").cache()

    def test_ivf_recall_vs_bruteforce(self, spark, emb):
        """IVF recall well above chance on near-random embeddings (true
        neighbours are scattered, so the meaningful gate is high recall at
        a 3/4 probe budget, not perfection; the registry oracle checks
        exactness on planted twins instead)."""
        from pdf_ocr_engine_spark.operators.ann import (
            cosine_topk_df,
            ivf_assign,
            ivf_topk_df,
        )

        cents, assigned = ivf_assign(emb, n_lists=16)
        assigned = assigned.cache()
        assert len(cents) == 16 and len(cents[0]) == 64
        recalls = []
        for qid in range(3):
            q = emb.where(f"vec_id = {qid}")
            exact = {r.vec_id for r in cosine_topk_df(emb, q, k=10).collect()}
            approx = {r.vec_id for r in
                      ivf_topk_df(assigned, cents, q, k=10,
                                  nprobe=12).collect()}
            recalls.append(len(exact & approx) / 10)
        assert sum(recalls) / len(recalls) >= 0.7, recalls
        assigned.unpersist()

    def test_ivf_lists_partition_corpus(self, spark, emb):
        from pdf_ocr_engine_spark.operators.ann import ivf_assign

        cents, assigned = ivf_assign(emb, n_lists=8)
        counts = {r.list_id: r.c for r in
                  assigned.groupBy("list_id")
                  .agg(F.count("*").alias("c")).collect()}
        assert sum(counts.values()) == emb.count()
        assert len(counts) > 1  # quantizer actually splits the corpus


class TestConnectedComponentsStringIds:
    def test_string_ids_not_silently_nulled(self, spark):
        """dedup on md5/string ids: a numeric cast would NULL every id and
        silently no-op the whole dedup (review regression)."""
        from pdf_ocr_engine_spark.operators.dedup import connected_components

        pairs = spark.createDataFrame(
            [("aa", "bb"), ("bb", "cc"), ("zz", "yy")], ["id_a", "id_b"])
        comps = {r.node: r.component
                 for r in connected_components(pairs).collect()}
        assert comps == {"aa": "aa", "bb": "aa", "cc": "aa",
                         "yy": "yy", "zz": "yy"}


class TestSampling:
    def test_split_deterministic_and_sized(self, spark):
        from pdf_ocr_engine_spark.operators.sample import deterministic_split

        df = spark.createDataFrame(
            [(f"https://h{i % 9}.example/d/{i}",) for i in range(2000)],
            ["url"])
        a = {r.url: r.split for r in deterministic_split(df, 0.05).collect()}
        b = {r.url: r.split
             for r in deterministic_split(df.repartition(13), 0.05).collect()}
        assert a == b  # partitioning cannot move split membership
        frac = sum(1 for v in a.values() if v == "eval") / len(a)
        assert 0.03 < frac < 0.07  # ~5% within binomial noise

    def test_split_salt_changes_membership(self, spark):
        from pdf_ocr_engine_spark.operators.sample import deterministic_split

        df = spark.createDataFrame(
            [(f"https://x.example/{i}",) for i in range(500)], ["url"])
        a = {r.url: r.split
             for r in deterministic_split(df, 0.5, salt="s1").collect()}
        b = {r.url: r.split
             for r in deterministic_split(df, 0.5, salt="s2").collect()}
        assert a != b

    def test_cap_per_host_bounds_and_determinism(self, spark):
        from pdf_ocr_engine_spark.operators.sample import cap_per_host

        rows = [(f"https://big.example/{i}",) for i in range(100)] \
            + [(f"https://small.example/{i}",) for i in range(3)]
        df = spark.createDataFrame(rows, ["url"])
        kept1 = {r.url for r in cap_per_host(df, 10).collect()}
        kept2 = {r.url
                 for r in cap_per_host(df.repartition(7), 10).collect()}
        assert kept1 == kept2  # hashed order, not input order
        assert sum(1 for u in kept1 if "big." in u) == 10
        assert sum(1 for u in kept1 if "small." in u) == 3

    def test_bad_args_raise(self, spark):
        from pdf_ocr_engine_spark.operators.sample import (
            cap_per_host,
            deterministic_split,
        )

        df = spark.createDataFrame([("u",)], ["url"])
        with pytest.raises(ValueError):
            deterministic_split(df, 1.5)
        with pytest.raises(ValueError):
            cap_per_host(df, 0)


class TestPackAndQuantize:
    def test_pack_offsets_contiguous_per_bucket(self, spark):
        from pdf_ocr_engine_spark.operators.pack import pack_sequences

        rows = [(f"https://h.example/{i}", 100 + i % 7) for i in range(300)]
        df = spark.createDataFrame(rows, ["url", "n_tokens"])
        out = pack_sequences(df, window_tokens=512).collect()
        by_bucket: dict = {}
        for r in out:
            by_bucket.setdefault(r.bucket, []).append(r)
        for rows_b in by_bucket.values():
            rows_b.sort(key=lambda r: (r.seq_id, r.offset))
            cum = 0
            for r in rows_b:
                assert r.seq_id == cum // 512
                assert r.offset == cum % 512
                cum += r.n_tokens

    def test_pack_deterministic_across_partitioning(self, spark):
        from pdf_ocr_engine_spark.operators.pack import pack_sequences

        rows = [(f"https://h.example/{i}", 50) for i in range(200)]
        df = spark.createDataFrame(rows, ["url", "n_tokens"])
        a = {r.url: (r.bucket, r.seq_id, r.offset)
             for r in pack_sequences(df).collect()}
        b = {r.url: (r.bucket, r.seq_id, r.offset)
             for r in pack_sequences(df.repartition(11)).collect()}
        assert a == b

    def test_quantize_roundtrip_error_bounded(self, spark):
        import numpy as np

        from pdf_ocr_engine_spark.operators.ann import quantize_embeddings

        rng = np.random.RandomState(3)
        vecs = rng.standard_normal((50, 32))
        df = spark.createDataFrame(
            [(i, vecs[i].tolist()) for i in range(50)],
            ["vec_id", "embedding"])
        for r in quantize_embeddings(df).collect():
            orig = vecs[r.vec_id]
            deq = np.array(r.q_vec, dtype=np.float64) * r.q_scale / 127.0
            assert np.max(np.abs(deq - orig)) <= r.q_scale / 127.0 / 2 + 1e-12
            assert max(abs(q) for q in r.q_vec) <= 127

    def test_quantize_zero_vector(self, spark):
        from pdf_ocr_engine_spark.operators.ann import quantize_embeddings

        df = spark.createDataFrame([(0, [0.0, 0.0, 0.0])],
                                   ["vec_id", "embedding"])
        r = quantize_embeddings(df).collect()[0]
        assert r.q_vec == [0, 0, 0]
        assert r.q_scale == 0.0


class TestSamplingReviewRegressions:
    def test_eval_fraction_one_is_all_eval(self, spark):
        from pdf_ocr_engine_spark.operators.sample import deterministic_split

        df = spark.createDataFrame(
            [(f"https://x.example/{i}",) for i in range(200)], ["url"])
        out = deterministic_split(df, 1.0).collect()
        assert all(r.split == "eval" for r in out)

    def test_hostless_urls_pass_through_uncapped(self, spark):
        from pdf_ocr_engine_spark.operators.sample import cap_per_host

        rows = [(f"https://h.example/{i}",) for i in range(20)] \
            + [(f"www.no-scheme-{i}.com/page",) for i in range(50)]
        df = spark.createDataFrame(rows, ["url"])
        kept = {r.url for r in cap_per_host(df, 5).collect()}
        assert sum(1 for u in kept if u.startswith("https")) == 5
        # malformed/scheme-less urls are unrelated docs, never one "host"
        assert sum(1 for u in kept if u.startswith("www.")) == 50


class TestSnapshotDelta:
    def test_classification(self, spark):
        from pdf_ocr_engine_spark.operators.snapshot import snapshot_delta

        old = spark.createDataFrame(
            [("u1", "same text"), ("u2", "old text"), ("u3", "gone")],
            ["url", "text"])
        new = spark.createDataFrame(
            [("u1", "Same   TEXT"),   # normalizes identically → unchanged
             ("u2", "new text"),      # changed
             ("u4", "brand new")],    # added
            ["url", "text"])
        got = {r.url: r.change for r in snapshot_delta(old, new).collect()}
        assert got == {"u1": "unchanged", "u2": "changed",
                       "u3": "removed", "u4": "added"}

    def test_delta_is_single_join_plan(self, spark):
        from pdf_ocr_engine_spark.operators.snapshot import snapshot_delta

        old = spark.createDataFrame([("u", "t")], ["url", "text"])
        new = spark.createDataFrame([("u", "t")], ["url", "text"])
        plan = snapshot_delta(old, new)._jdf.queryExecution() \
            .executedPlan().toString()
        assert plan.count("SortMergeJoin") + plan.count("HashJoin") == 1

    def test_null_text_presence_not_misclassified(self, spark):
        """NULL text (decode_error rows) must classify by presence +
        null-safe content compare, never as added/removed (third-review
        finding)."""
        from pdf_ocr_engine_spark.operators.snapshot import snapshot_delta

        old = spark.createDataFrame(
            [("u1", None), ("u2", "text"), ("u3", None)],
            "url string, text string")
        new = spark.createDataFrame(
            [("u1", "recovered"), ("u2", None), ("u3", None)],
            "url string, text string")
        got = {r.url: r.change for r in snapshot_delta(old, new).collect()}
        assert got == {"u1": "changed", "u2": "changed", "u3": "unchanged"}


class TestCanonicalUrl:
    def test_variants_collapse(self, spark):
        from pdf_ocr_engine_spark.functions.text_funcs import canonical_url

        cases = {
            "HTTP://Example.COM:80/a#frag": "http://example.com/a",
            "https://example.com:443/a?x=1": "https://example.com/a?x=1",
            "https://Example.com/": "https://example.com",
            "https://example.com/Path/Is/CaseSensitive":
                "https://example.com/Path/Is/CaseSensitive",
            "http://h.example/a?": "http://h.example/a",
            # non-default port survives; deep trailing slash survives
            "http://h.example:8080/a": "http://h.example:8080/a",
            "http://h.example/a/": "http://h.example/a/",
        }
        df = spark.createDataFrame([(k,) for k in cases], ["url"])
        got = {r.url: r.c for r in
               df.select("url", canonical_url(F.col("url")).alias("c"))
               .collect()}
        assert got == cases
