"""Streaming dedup (streaming/dedup.py): re-deliveries within the
watermark horizon are dropped; batch fallback dedups plainly."""

import json

from pyspark.sql import functions as F

from defenda_data_lake_spark.streaming.dedup import (
    content_dedupe_stream,
    dedupe_stream,
)


def _event(eventid, ts, summary="login ok"):
    return json.dumps(
        {"eventid": eventid, "utctimestamp": ts, "summary": summary}
    )


def _stream(spark, landing):
    return (
        spark.readStream.format("text")
        .schema("value string")
        .load(str(landing))
        .select(
            F.get_json_object("value", "$.eventid").alias("eventid"),
            F.get_json_object("value", "$.utctimestamp").alias("utctimestamp"),
            F.get_json_object("value", "$.summary").alias("summary"),
        )
    )


def test_dedupe_stream_drops_redeliveries(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    with open(landing / "b1.ndjson", "w") as f:
        f.write(_event("e1", "2026-01-01T00:01:00+00:00") + "\n")
        f.write(_event("e1", "2026-01-01T00:01:00+00:00") + "\n")  # dup, same batch
        f.write(_event("e2", "2026-01-01T00:02:00+00:00") + "\n")

    query = (
        dedupe_stream(_stream(spark, landing), keys=("eventid",))
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
        # second delivery of e1 in a later microbatch, still in horizon
        with open(landing / "b2.ndjson", "w") as f:
            f.write(_event("e1", "2026-01-01T00:03:00+00:00") + "\n")
            f.write(_event("e3", "2026-01-01T00:04:00+00:00") + "\n")
        query.processAllAvailable()
        ids = sorted(
            r["eventid"]
            for r in spark.sql("SELECT eventid FROM dedup_out").collect()
        )
        assert ids == ["e1", "e2", "e3"]
        # output schema is the input schema — no helper columns leak
        assert spark.table("dedup_out").columns == [
            "eventid", "utctimestamp", "summary",
        ]
    finally:
        query.stop()


def test_content_dedupe_stream(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    with open(landing / "b1.ndjson", "w") as f:
        # different ids, same normalized content -> one survivor
        f.write(_event("a", "2026-01-01T00:01:00+00:00", "Alert  FIRED") + "\n")
        f.write(_event("b", "2026-01-01T00:01:30+00:00", "alert fired") + "\n")
        f.write(_event("c", "2026-01-01T00:02:00+00:00", "all quiet") + "\n")

    query = (
        content_dedupe_stream(_stream(spark, landing))
        .writeStream.format("memory")
        .queryName("content_dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
        rows = spark.sql(
            "SELECT eventid, summary FROM content_dedup_out"
        ).collect()
        assert len(rows) == 2
        assert {r["summary"].lower().replace("  ", " ") for r in rows} == {
            "alert fired",
            "all quiet",
        }
    finally:
        query.stop()


def test_dedupe_batch_fallback(spark):
    df = spark.createDataFrame(
        [
            ("e1", "2026-01-01T00:01:00+00:00", "x"),
            ("e1", "2026-01-01T00:05:00+00:00", "x"),
            ("e2", "2026-01-01T00:02:00+00:00", "y"),
        ],
        ["eventid", "utctimestamp", "summary"],
    )
    out = dedupe_stream(df, keys=("eventid",))
    assert out.count() == 2


def _doc(doc_id, ts, text):
    return json.dumps({"doc_id": doc_id, "ts": ts, "text": text})


def _doc_stream(spark, landing):
    return (
        spark.readStream.format("text")
        .schema("value string")
        .load(str(landing))
        .select(
            F.get_json_object("value", "$.doc_id").cast("long").alias("doc_id"),
            F.get_json_object("value", "$.ts").alias("ts"),
            F.get_json_object("value", "$.text").alias("text"),
        )
    )


def test_near_dedupe_stream_batch_parity(spark, tmp_path):
    """End-to-end streaming near-dedup (candidates + claimant-signature
    verify + per-doc resolution) produces the same per-doc verdicts as
    the batch twin minhash_bucket_dedupe on the same corpus."""
    from defenda_data_lake_spark.operators.dedup import minhash_bucket_dedupe
    from defenda_data_lake_spark.streaming.dedup import (
        near_dedupe_stream,
        resolve_stream_flags,
    )

    corpus = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "the quick brown fox jumps over the lazy cat"),
        (4, "completely different words describing unrelated observations"),
        (5, ""),      # blank: unshingleable, must survive
        (6, "\t \n"), # whitespace-but-not-space: the kernel (Python
                      # unicode whitespace rules) judges shingleability,
                      # not a Spark trim() — regression for the row-loss
                      # bug a review probe confirmed
    ]
    landing = tmp_path / "landing"
    landing.mkdir()
    with open(landing / "b1.ndjson", "w") as f:
        for i, (doc_id, text) in enumerate(corpus):
            f.write(_doc(doc_id, f"2026-01-01T00:0{i + 1}:00+00:00", text) + "\n")
        # no parseable event time: rides the single-pass band=-1 bypass
        # (round 8) — must SURVIVE, never reach bucket state
        f.write(_doc(7, "not-a-timestamp", "perfectly shingleable text here") + "\n")

    resolved = {}

    def sink(batch_df, batch_id):
        for r in resolve_stream_flags(batch_df).collect():
            resolved[int(r["_ndd_id"])] = r["dup_of"]

    query = (
        near_dedupe_stream(
            _doc_stream(spark, landing), event_time_col="ts"
        )
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()

    docs = spark.createDataFrame(
        [(d, f"2026-01-01T00:0{i + 1}:00+00:00", t) for i, (d, t) in enumerate(corpus)],
        "doc_id long, ts string, text string",
    )
    batch = {
        int(r["doc_id"]): r["dup_of"]
        for r in minhash_bucket_dedupe(docs, ts_col="ts").collect()
    }
    # doc 7 (unparseable ts) is stream-only: the batch twin has no
    # timeline contract for it, so compare it separately
    assert {k: v for k, v in resolved.items() if k != 7} == batch
    assert set(resolved) == {1, 2, 3, 4, 5, 6, 7}  # no row lost
    assert resolved[1] is None and resolved[2] == "1"
    assert resolved[4] is None and resolved[5] is None
    assert resolved[6] is None  # tab/newline-only doc survives
    assert resolved[7] is None  # timeless doc survives via the bypass

def test_near_dedupe_stream_out_of_order_content_set(spark, tmp_path):
    """Out-of-order delivery can flip WHICH member of a near-dup family
    survives, but the surviving CONTENT set matches the batch twin's
    (the docstring's claimant invariant, streaming/dedup.py): the
    family's members arrive across micro-batches in REVERSE event-time
    order, so the stream crowns the latest-timestamped member while
    batch crowns the earliest — same content either way."""
    from defenda_data_lake_spark.operators.dedup import minhash_bucket_dedupe
    from defenda_data_lake_spark.streaming.dedup import (
        near_dedupe_stream,
        resolve_stream_flags,
    )

    fam = "the quick brown fox jumps over the lazy dog tonight"
    other = "completely different words describing unrelated observations"
    corpus = [
        (1, "2026-01-01T00:01:00+00:00", fam),
        (2, "2026-01-01T00:02:00+00:00", fam),
        (3, "2026-01-01T00:03:00+00:00", fam),
        (4, "2026-01-01T00:04:00+00:00", other),
    ]
    texts = dict((d, t) for d, ts, t in corpus)

    landing = tmp_path / "landing"
    landing.mkdir()
    resolved = {}

    def sink(batch_df, batch_id):
        for r in resolve_stream_flags(batch_df).collect():
            resolved[int(r["_ndd_id"])] = r["dup_of"]

    query = (
        near_dedupe_stream(_doc_stream(spark, landing), event_time_col="ts")
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # one family member per micro-batch, latest event time FIRST
        for i, (doc_id, ts, text) in enumerate(
            [corpus[2], corpus[1], corpus[0]]
        ):
            with open(landing / f"b{i}.ndjson", "w") as f:
                f.write(_doc(doc_id, ts, text) + "\n")
                if i == 0:
                    f.write(_doc(*corpus[3]) + "\n")
            query.processAllAvailable()
    finally:
        query.stop()

    docs = spark.createDataFrame(corpus, "doc_id long, ts string, text string")
    batch = {
        int(r["doc_id"]): r["dup_of"]
        for r in minhash_bucket_dedupe(docs, ts_col="ts").collect()
    }

    assert set(resolved) == set(batch) == {1, 2, 3, 4}  # no row lost
    # batch crowns 1 (earliest event time); the stream crowns 3
    # (first arrival — verdicts already emitted can't be retracted)
    assert batch[1] is None and batch[2] == "1" and batch[3] == "1"
    assert resolved[3] is None and resolved[2] == "3" and resolved[1] == "3"
    # the surviving CONTENT multiset is identical
    stream_survivors = sorted(texts[d] for d, v in resolved.items() if v is None)
    batch_survivors = sorted(texts[d] for d, v in batch.items() if v is None)
    assert stream_survivors == batch_survivors == sorted([fam, other])

def test_seed_near_dedup_state_migration_path(spark, tmp_path):
    """The documented state-schema migration: a query that
    cannot resume its old checkpoint restarts on a FRESH checkpoint
    over seed_near_dedup_state's seeded stream, and (a) runs, (b) loses
    no live rows, (c) suppresses seed re-emission, and (d) still
    resolves an in-horizon duplicate against a PRE-migration claimant
    — the dedup coverage a bare fresh checkpoint would forfeit."""
    from defenda_data_lake_spark.streaming.dedup import (
        near_dedupe_stream,
        resolve_stream_flags,
        seed_near_dedup_state,
    )

    fam = "the quick brown fox jumps over the lazy dog tonight"
    other = "completely different words describing unrelated observations"

    # pre-migration era: docs 1 and 2 were processed and landed under
    # the old (now-unresumable) checkpoint
    history = spark.createDataFrame(
        [
            (1, "2026-01-01T00:01:00+00:00", fam),
            (2, "2026-01-01T00:02:00+00:00", other),
        ],
        "doc_id long, ts string, text string",
    )

    landing = tmp_path / "landing_live"
    landing.mkdir()
    seeded = seed_near_dedup_state(
        spark, history, str(tmp_path / "seed"), _doc_stream(spark, landing)
    )

    live_resolved, seed_landed = {}, []

    def sink(batch_df, batch_id):
        for r in resolve_stream_flags(batch_df).collect():
            if r["_ndd_seed"]:
                seed_landed.append(int(r["_ndd_id"]))  # must be dropped
            else:
                live_resolved[int(r["_ndd_id"])] = r["dup_of"]

    query = (
        near_dedupe_stream(seeded, event_time_col="ts")
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_fresh"))
        .start()
    )
    try:
        # FIRST batch: seed replay AND a live redelivery of seeded id 1
        # arrive together (producers don't pause for migrations) — the
        # id must resolve as seed deterministically (any-seed-wins) so
        # the redelivery is suppressed, not double-landed
        with open(landing / "b0.ndjson", "w") as f:
            f.write(_doc(1, "2026-01-01T00:01:00+00:00", fam) + "\n")
        query.processAllAvailable()
        # an in-horizon near-dup of PRE-migration doc 1 arrives
        with open(landing / "b1.ndjson", "w") as f:
            f.write(_doc(3, "2026-01-01T00:10:00+00:00", fam) + "\n")
            f.write(_doc(4, "2026-01-01T00:11:00+00:00", "fresh novel text never seen") + "\n")
        query.processAllAvailable()
    finally:
        query.stop()

    # seed rows (incl. the same-batch redelivery of id 1) are
    # identified for suppression; live rows all arrive
    assert sorted(seed_landed) == [1, 2]
    assert set(live_resolved) == {3, 4}
    assert live_resolved[3] == "1"   # pre-migration claimant remembered
    assert live_resolved[4] is None  # novel doc survives

def test_near_dedupe_stream_late_rows_not_lost_in_processing_mode(spark, tmp_path):
    """timeout_mode contract: in the default 'processing' mode a row
    arriving hours behind the stream's max event time still flows
    through (judged against the live claimant); in 'event' mode the
    engine's watermark silently drops it — the row loss the round-7
    500k-event probe caught in the ingest composition."""
    from defenda_data_lake_spark.streaming.dedup import (
        near_dedupe_stream,
        resolve_stream_flags,
        watermark_drop_counts,
    )

    fam = "the quick brown fox jumps over the lazy dog tonight"

    for mode, expect_doc3 in (("processing", True), ("event", False)):
        landing = tmp_path / f"landing_{mode}"
        landing.mkdir()
        resolved = {}

        def sink(batch_df, batch_id):
            for r in resolve_stream_flags(batch_df).collect():
                resolved[int(r["_ndd_id"])] = r["dup_of"]

        query = (
            near_dedupe_stream(
                _doc_stream(spark, landing),
                event_time_col="ts",
                timeout_mode=mode,
            )
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{mode}"))
            .start()
        )
        try:
            with open(landing / "b1.ndjson", "w") as f:
                f.write(_doc(1, "2026-01-01T10:00:00+00:00", fam) + "\n")
            query.processAllAvailable()
            # doc 3's event time is 9.5 h behind the watermark horizon
            with open(landing / "b2.ndjson", "w") as f:
                f.write(_doc(3, "2026-01-01T00:30:00+00:00", fam) + "\n")
            query.processAllAvailable()
            dropped = watermark_drop_counts(query)
        finally:
            query.stop()

        assert resolved.get(1, "missing") is None, mode
        if expect_doc3:
            # late row LANDS, and is even deduped (claimant still live
            # on the wall-clock TTL); no engine drops in processing mode
            assert resolved[3] == "1", mode
            assert dropped == 0, mode
        else:
            # event mode: engine dropped the late row before the kernel
            # — and the loss is now AUDITABLE: the drop counter equals
            # the known late-row count in STATEFUL-STAGE rows, i.e.
            # bands (=2) rows per late document (VERDICT r7 item 6)
            assert 3 not in resolved, mode
            assert dropped == 2, mode

def test_near_dedupe_stream_sharded_parity(spark, tmp_path):
    """shards=N (bucket-table kernel, one Python call per shard) must
    produce verdicts IDENTICAL to the per-bucket reference kernel on
    the same corpus delivered across the same micro-batches — near-dup
    family, exact dups, a capped degenerate bucket, an unshingleable
    doc, and a cross-batch claim all covered."""
    from defenda_data_lake_spark.streaming.dedup import (
        near_dedupe_stream,
        resolve_stream_flags,
    )

    fam = "the quick brown fox jumps over the lazy dog tonight"
    near = "the quick brown fox jumps over the lazy dog today instead"
    xfam = "zebra quantum lattice harmonic oscillator drifts beyond the nebula rim"
    boiler = "boilerplate legal footer text repeated verbatim every page"
    batches = [
        [
            (1, "2026-01-01T00:01:00+00:00", fam),
            (2, "2026-01-01T00:02:00+00:00", fam),
            (3, "2026-01-01T00:03:00+00:00", near),
            (4, "2026-01-01T00:04:00+00:00", "completely different words here"),
            (5, "2026-01-01T00:05:00+00:00", ""),
            (11, "2026-01-01T00:06:00+00:00", xfam),
        ],
        [
            (6, "2026-01-01T00:10:00+00:00", xfam),  # cross-batch claim
            (7, "2026-01-01T00:11:00+00:00", boiler),
            (8, "2026-01-01T00:12:00+00:00", boiler),
        ],
        [
            (9, "2026-01-01T00:20:00+00:00", boiler),   # batch pushes the
            (10, "2026-01-01T00:21:00+00:00", boiler),  # bucket over cap=3
            (12, "not-a-timestamp", fam),  # timeless: band=-1 bypass in BOTH kernels (round 8)
        ],
    ]

    results = {}
    for label, shard_arg in (("pergroup", None), ("sharded", 4)):
        landing = tmp_path / f"landing_{label}"
        landing.mkdir()
        resolved = {}

        def sink(batch_df, batch_id):
            for r in resolve_stream_flags(batch_df).collect():
                resolved[int(r["_ndd_id"])] = r["dup_of"]

        query = (
            near_dedupe_stream(
                _doc_stream(spark, landing),
                event_time_col="ts",
                max_bucket_docs=3,
                shards=shard_arg,
            )
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{label}"))
            .start()
        )
        try:
            for bi, docs in enumerate(batches):
                with open(landing / f"b{bi}.ndjson", "w") as f:
                    for d in docs:
                        f.write(_doc(*d) + "\n")
                query.processAllAvailable()
        finally:
            query.stop()
        results[label] = resolved

    assert results["sharded"] == results["pergroup"]
    r = results["sharded"]
    assert set(r) == set(range(1, 13))          # no row lost, either kernel
    assert r[1] is None and r[2] == "1"
    assert r[11] is None and r[6] == "11"       # cross-batch claim held
    assert r[4] is None and r[5] is None
    assert r[8] == "7"                          # under cap: flagged
    assert r[9] is None and r[10] is None       # batch crosses cap: silent
    assert r[12] is None                        # timeless doc: bypass, both kernels

def test_dedupe_stream_late_unique_rows_not_lost(spark, tmp_path):
    """Exact-dedup twin of the near-dedup late-row contract: a UNIQUE
    event with an old event timestamp must land in 'processing' mode
    (default) but is engine-dropped in 'event' mode; a late
    RE-delivery is suppressed as a duplicate either way (processing
    mode, within the arrival horizon)."""
    from defenda_data_lake_spark.streaming.dedup import dedupe_stream

    for mode, expect_late_unique in (("processing", True), ("event", False)):
        landing = tmp_path / f"landing_{mode}"
        landing.mkdir()
        seen = []

        def sink(batch_df, batch_id):
            seen.extend(r["eventid"] for r in batch_df.collect())

        query = (
            dedupe_stream(_stream(spark, landing), horizon_mode=mode)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{mode}"))
            .start()
        )
        try:
            with open(landing / "b1.ndjson", "w") as f:
                f.write(_event("e1", "2026-01-01T10:00:00+00:00") + "\n")
            query.processAllAvailable()
            with open(landing / "b2.ndjson", "w") as f:
                # late redelivery of e1 + late UNIQUE e2
                f.write(_event("e1", "2026-01-01T10:00:00+00:00") + "\n")
                f.write(_event("e2", "2026-01-01T00:30:00+00:00") + "\n")
            query.processAllAvailable()
        finally:
            query.stop()

        assert seen.count("e1") == 1, mode  # redelivery suppressed
        assert ("e2" in seen) == expect_late_unique, (mode, seen)

def test_near_dedupe_sharded_eviction_parity(spark, tmp_path):
    """Same eviction-path pin for near_dedupe_stream's sharded kernel:
    verdicts across an eviction boundary must match the per-bucket
    kernel (re-claim after eviction, dup_of points at the NEW
    claimant)."""
    from defenda_data_lake_spark.streaming.dedup import (
        near_dedupe_stream,
        resolve_stream_flags,
    )

    fam = "the quick brown fox jumps over the lazy dog tonight"
    other = "zebra quantum lattice harmonic oscillator drifts beyond the nebula rim"
    batches = [
        [(1, "2026-01-01T00:00:00+00:00", fam),
         (2, "2026-01-01T00:05:00+00:00", fam)],
        [(3, "2026-01-01T06:00:00+00:00", other)],
        [(4, "2026-01-01T06:30:00+00:00", fam)],
        [(5, "2026-01-01T06:40:00+00:00", fam)],
    ]

    results = {}
    for label, shard_arg in (("pergroup", None), ("sharded", 4)):
        landing = tmp_path / f"nev_landing_{label}"
        landing.mkdir()
        resolved = {}

        def sink(batch_df, batch_id):
            for r in resolve_stream_flags(batch_df).collect():
                resolved[int(r["_ndd_id"])] = r["dup_of"]

        query = (
            near_dedupe_stream(
                _doc_stream(spark, landing),
                event_time_col="ts",
                watermark_delay="1 hour",
                timeout_mode="event",
                shards=shard_arg,
            )
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"nev_ckpt_{label}"))
            .start()
        )
        try:
            for bi, docs in enumerate(batches):
                with open(landing / f"b{bi}.ndjson", "w") as f:
                    for d in docs:
                        f.write(_doc(*d) + "\n")
                query.processAllAvailable()
        finally:
            query.stop()
        results[label] = dict(resolved)

    assert results["sharded"] == results["pergroup"]
    r = results["sharded"]
    assert r[1] is None and r[2] == "1"
    assert r[4] is None                  # bucket evicted: doc 4 re-claims
    assert r[5] == "4"                   # post-eviction dup -> new claimant


def test_lsh_processing_mode_anchor_is_arrival_bounded(spark, tmp_path):
    """ADVICE r7 regression: in timeout_mode='processing' the eviction
    anchor of an LSH bucket must live in the ARRIVAL domain.  Seeding it
    from the row's EVENT time let a future-skewed event timestamp (here:
    year 2100) pin the bucket's timeout at 2100 + horizon — state was
    never bounded by the arrival horizon, and a re-post long after the
    horizon still matched the fossilized claimant.  The bucket must
    evict one horizon of ARRIVAL time after its last activity
    regardless of the event timestamp: the re-post re-claims and
    resolves as a survivor.  Both kernels (per-bucket and sharded) are
    pinned to the same behavior."""
    import time as _time

    from defenda_data_lake_spark.streaming.dedup import (
        near_dedupe_stream,
        resolve_stream_flags,
    )

    fam = "the quick brown fox jumps over the lazy dog tonight"
    other = "zebra quantum lattice harmonic oscillator drifts beyond the nebula rim"

    results = {}
    for label, shard_arg in (("pergroup", None), ("sharded", 4)):
        landing = tmp_path / f"skew_landing_{label}"
        landing.mkdir()
        resolved = {}

        def sink(batch_df, batch_id):
            for r in resolve_stream_flags(batch_df).collect():
                resolved[int(r["_ndd_id"])] = r["dup_of"]

        query = (
            near_dedupe_stream(
                _doc_stream(spark, landing),
                event_time_col="ts",
                watermark_delay="2 seconds",
                timeout_mode="processing",
                shards=shard_arg,
            )
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"skew_ckpt_{label}"))
            .start()
        )
        try:
            # batch 0: future-skewed EVENT time claims the fam bucket
            with open(landing / "b0.ndjson", "w") as f:
                f.write(_doc(1, "2100-01-01T00:00:00+00:00", fam) + "\n")
            query.processAllAvailable()
            # let the arrival clock advance well past the 2 s horizon
            _time.sleep(6)
            # batch 1: unrelated doc advances the ARRIVAL watermark; the
            # engine's no-data batch then evicts every expired bucket —
            # if and only if the anchor is arrival-domain
            with open(landing / "b1.ndjson", "w") as f:
                f.write(_doc(2, "2026-01-01T00:00:00+00:00", other) + "\n")
            query.processAllAvailable()
            # batch 2: re-post of the fam text must RE-CLAIM (bucket
            # forgotten), not match the year-2100 claimant
            with open(landing / "b2.ndjson", "w") as f:
                f.write(_doc(3, "2026-01-01T00:01:00+00:00", fam) + "\n")
            query.processAllAvailable()
        finally:
            query.stop()
        results[label] = dict(resolved)

    assert results["sharded"] == results["pergroup"]
    # every doc survives: doc 3 re-claimed a fresh bucket instead of
    # resolving against the year-2100 claimant
    assert results["sharded"] == {1: None, 2: None, 3: None}


def test_near_dedupe_exact_predrop_suppresses_claimant_redelivery(
    spark, tmp_path
):
    """Claimant re-delivery across micro-batches, both paths (round
    12, VERDICT r11 item 1).  DEFAULT path: the re-send is FLAGGED —
    judged by signature agreement once its bucket pre-exists, it
    resolves dup_of = its own id and goes to the quarantine with an
    audit record instead of silently landing twice.  WITH
    exact_predrop=True the re-send is suppressed in pure JVM before
    the Python stages (no quarantine record — the documented
    contract difference).  Near-dup semantics for DISTINCT docs are
    identical on both paths."""
    from defenda_data_lake_spark.streaming.dedup import (
        near_dedupe_stream,
        resolve_stream_flags,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    for predrop, expect_claimant in (
        (False, [None, "1"]),  # first landing + flagged re-send
        (True, [None]),        # re-send suppressed pre-Python
    ):
        landing = tmp_path / f"landing_{predrop}"
        landing.mkdir()
        emitted = []  # (id, dup_of) per resolve, appended per batch

        def sink(batch_df, batch_id):
            for r in resolve_stream_flags(batch_df).collect():
                emitted.append((int(r["_ndd_id"]), r["dup_of"]))

        query = (
            near_dedupe_stream(
                _doc_stream(spark, landing),
                event_time_col="ts",
                exact_predrop=predrop,
            )
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{predrop}"))
            .start()
        )
        try:
            with open(landing / "b1.ndjson", "w") as f:
                f.write(_doc(1, "2026-01-01T00:01:00+00:00", text) + "\n")
            query.processAllAvailable()
            with open(landing / "b2.ndjson", "w") as f:
                # byte-identical re-delivery of the claimant, plus a
                # DISTINCT near-dup that must still be flagged
                f.write(_doc(1, "2026-01-01T00:01:00+00:00", text) + "\n")
                f.write(
                    _doc(2, "2026-01-01T00:02:00+00:00", text + " tonight")
                    + "\n"
                )
            query.processAllAvailable()
        finally:
            query.stop()

        claimant_rows = [d for i, d in emitted if i == 1]
        assert claimant_rows == expect_claimant, (predrop, emitted)
        assert (2, "1") in emitted, (predrop, emitted)  # near-dup intact


def test_near_dedupe_exact_predrop_no_unique_row_lost(spark, tmp_path):
    """Under exact_predrop, DISTINCT rows can never collide: distinct
    whitespace-only docs, distinct timeless docs, and a NULL-text doc
    all key on (id, text) or their kernel text and all survive; a
    byte-identical re-send of the SAME bypass row is suppressed as a
    true duplicate."""
    from defenda_data_lake_spark.streaming.dedup import (
        near_dedupe_stream,
        resolve_stream_flags,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    resolved = []

    def sink(batch_df, batch_id):
        for r in resolve_stream_flags(batch_df).collect():
            resolved.append((int(r["_ndd_id"]), r["dup_of"]))

    query = (
        near_dedupe_stream(
            _doc_stream(spark, landing),
            event_time_col="ts",
            exact_predrop=True,
        )
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        with open(landing / "b1.ndjson", "w") as f:
            # two DISTINCT whitespace-only docs (identical text!)
            f.write(_doc(1, "2026-01-01T00:01:00+00:00", "\t \n") + "\n")
            f.write(_doc(2, "2026-01-01T00:02:00+00:00", "\t \n") + "\n")
            # two DISTINCT timeless docs with identical text
            f.write(_doc(3, "not-a-timestamp", "same words here") + "\n")
            f.write(_doc(4, "not-a-timestamp", "same words here") + "\n")
            # NULL text: kernel text is the literal 'None' (shingleable)
            f.write(json.dumps({"doc_id": 5, "ts": "2026-01-01T00:03:00+00:00"}) + "\n")
        query.processAllAvailable()
        with open(landing / "b2.ndjson", "w") as f:
            # byte-identical re-send of bypass doc 3: true duplicate
            f.write(_doc(3, "not-a-timestamp", "same words here") + "\n")
            # distinct timeless doc, same text: must survive
            f.write(_doc(6, "not-a-timestamp", "same words here") + "\n")
        query.processAllAvailable()
    finally:
        query.stop()

    ids = sorted(i for i, _ in resolved)
    assert ids == [1, 2, 3, 4, 5, 6], resolved  # doc 3 once, all unique rows kept


def test_predrop_key_bypass_arm_injective_adversarial(spark):
    """The round-11 review fix, pinned: bypass-bound rows (NULL
    _ndd_us) must get DISTINCT keys for DISTINCT (id, text) pairs even
    under separator-byte and sentinel-string adversaries — the raw
    concat form collapsed the first pair below."""
    from defenda_data_lake_spark.streaming.dedup import _predrop_key_expr

    pairs = [
        ("a\x00b", "c"), ("a", "b\x00c"),          # the review's collision
        ("a\x00", "bc"), ("a", "\x00bc"),
        ("<null-id>", "x"), (None, "x"),           # sentinel vs real NULL
        ("y", "<null-text>"), ("y", None),
        ("t\x00abc", None), ("b", "t\x00abc"),     # arm-tag lookalikes
        ("", ""), ("", None), (None, ""),
    ]
    df = spark.createDataFrame(
        [(i, t, None) for i, t in pairs],
        "doc_id string, text string, _ndd_us long",
    )
    keys = [
        r.k for r in df.select(
            _predrop_key_expr("doc_id", "text").alias("k")
        ).collect()
    ]
    assert all(k is not None for k in keys)
    assert len(set(keys)) == len(pairs), keys


def test_predrop_key_is_id_text_everywhere(spark):
    """Round-12 key contract (ADVICE r11): EVERY row keys on its
    (id, text) pair — same (id, text) collides regardless of
    timing/shingleability arm, distinct ids with shared text do NOT
    (those flow to the main stage and keep their dup_of audit), and
    NULL text is distinct from the literal 'None' (different bytes =
    not a byte-identical re-send; the main stage still flags the
    near-dup by signature)."""
    from defenda_data_lake_spark.streaming.dedup import _predrop_key_expr

    rows = [
        ("id1", "shared words here", 1),
        ("id2", "shared words here", 1),    # distinct id: distinct key
        ("id1", "shared words here", None),  # same (id,text), bypass arm
        ("id3", None, 1),                   # NULL text
        ("id3", "None", 1),                 # literal 'None': distinct
        ("id5", "\t \n", 1),                # unshingleable
        ("id6", "\t \n", 1),                # distinct id: distinct key
        ("id5", "\t \n", None),             # same (id,text): same key
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string, _ndd_us long")
    keys = [
        r.k for r in df.select(
            _predrop_key_expr("doc_id", "text").alias("k")
        ).collect()
    ]
    assert keys[0] != keys[1]   # id is part of the key
    assert keys[0] == keys[2]   # arm-independent: one formula
    assert keys[3] != keys[4]   # NULL text != 'None'
    assert keys[5] != keys[6]
    assert keys[5] == keys[7]
    assert keys[0] != keys[3]


def test_predrop_key_injectivity_property(spark):
    """Property form (hypothesis): ANY set of distinct (id, text)
    pairs maps to distinct keys — since round 12 one formula covers
    every row (participating and bypass arms alike)."""
    from hypothesis import given, settings, strategies as st

    from defenda_data_lake_spark.streaming.dedup import _predrop_key_expr

    txt = st.one_of(st.none(), st.text(max_size=24))

    @settings(max_examples=8, deadline=None)
    @given(pairs=st.lists(st.tuples(txt, txt), min_size=2, max_size=24,
                          unique=True))
    def run(pairs):
        df = spark.createDataFrame(
            [(i, t, None) for i, t in pairs],
            "doc_id string, text string, _ndd_us long",
        )
        keys = [
            r.k for r in df.select(
                _predrop_key_expr("doc_id", "text").alias("k")
            ).collect()
        ]
        assert len(set(keys)) == len(pairs)

    run()
