"""Round-11 hardening witnesses (ADVICE r10 closures + VERDICT r10 item 2).

1. ADVICE r10 item 1 — stream_lsh_dedup_ttl no longer leaks its working
   tree: superseded index versions are removed in-fold, feed/index/ckpt
   are removed post-drain, and the candidate dirs (read lazily by the
   returned DataFrame) are removed by the module atexit hook.
2. ADVICE r10 item 2 — the registered doc states the LSH band-miss
   probability explicitly, so a future gate mismatch is triaged as
   expected variance, not a regression.
3. ADVICE r10 item 3 — colliding/degenerate quantile cut points fall back
   to distinct-id ntile ranges (three non-empty shards on skewed-but-valid
   id domains); fewer than three distinct ids raises an error naming the
   skew cause instead of the fold-count symptom.
4. VERDICT r10 item 2 — the crash-resume path is EXECUTED: a fold crash
   injected after batch 1's writes but before its checkpoint commit, then
   a resume from the same checkpoint, must replay batch 1 idempotently
   (candidate set and final index identical to an uninterrupted run).
"""

import glob
import os

import pytest

from tests.conftest import SF0001


def _bases_added_during(prefix, fn):
    """Run fn(); return (result, the trees fn left in this process's temp
    home, basename-prefix filtered).  Eagerly removed trees are gone from
    the home before fn returns, so they are not listed."""
    from gcp_cloudsql_to_bigquery_spark.tmputil import home

    before = set(os.listdir(home()))
    result = fn()
    added = [
        os.path.join(home(), n)
        for n in os.listdir(home())
        if n not in before and n.startswith(prefix)
    ]
    return result, added


def _tmp_dirs_created_during(prefix, fn):
    """Like _bases_added_during but captures EVERY allocation (including
    paths eagerly removed before fn returns) by wrapping the allocator.
    Only sees call sites that resolve tmp_dir through the events module at
    call time (i.e. functions living in streaming/events.py itself)."""
    from gcp_cloudsql_to_bigquery_spark.streaming import events as _ev

    created = []
    orig = _ev.tmp_dir

    def recording(pfx, root=None):
        p = orig(pfx, root)
        created.append(p)
        return p

    _ev.tmp_dir = recording
    try:
        result = fn()
    finally:
        _ev.tmp_dir = orig
    return result, [p for p in created if os.path.basename(p).startswith(prefix)]


def _mk_docs(spark, ids):
    return spark.createDataFrame(
        [(int(i), f"document text number {i} padded") for i in ids],
        "doc_id long, text string",
    )


def _read_shards(spark, feed_dir):
    shards = []
    for d in sorted(glob.glob(os.path.join(feed_dir, "arr_*"))):
        rows = spark.read.parquet(d).collect()
        shards.append(sorted(r["doc_id"] for r in rows))
    return shards


# --- ADVICE item 3: shard fallback ------------------------------------------


def test_lshttl_shards_quantile_primary(spark, tmp_path):
    """A well-spread id domain uses the quantile path and yields three
    non-empty, disjoint, contiguous, id-ordered shards covering all rows."""
    from gcp_cloudsql_to_bigquery_spark.streaming.elt import _write_id_ordered_shards

    docs = _mk_docs(spark, range(300))
    feed = str(tmp_path / "feed")
    assert _write_id_ordered_shards(docs, feed) == "quantile"
    shards = _read_shards(spark, feed)
    assert len(shards) == 3 and all(shards)
    assert sorted(x for s in shards for x in s) == list(range(300))
    for a, b in zip(shards, shards[1:]):
        assert max(a) < min(b)  # contiguous id ranges, in order


def test_lshttl_shards_fallback_on_quantile_collision(spark, tmp_path):
    """Heavily skewed but valid id domain: q33 == q66 collide — the ntile
    fallback must still produce three non-empty disjoint id ranges."""
    from gcp_cloudsql_to_bigquery_spark.streaming.elt import _write_id_ordered_shards

    docs = _mk_docs(spark, [7] * 20 + [8, 9])
    feed = str(tmp_path / "feed")
    assert _write_id_ordered_shards(docs, feed) == "ntile"
    shards = _read_shards(spark, feed)
    assert [len(s) for s in shards] == [20, 1, 1]
    assert shards[1] == [8] and shards[2] == [9]


def test_lshttl_shards_fallback_on_empty_quantile_shard(spark, tmp_path):
    """Distinct cut points can still leave an EMPTY first shard (nothing
    below q33) — the per-shard count check must trigger the fallback too."""
    from gcp_cloudsql_to_bigquery_spark.streaming.elt import _write_id_ordered_shards

    docs = _mk_docs(spark, [7] * 10 + [8] * 10 + [9])
    feed = str(tmp_path / "feed")
    assert _write_id_ordered_shards(docs, feed) == "ntile"
    shards = _read_shards(spark, feed)
    assert [len(s) for s in shards] == [10, 10, 1]


def test_lshttl_shards_too_few_distinct_ids_names_skew(spark, tmp_path):
    """Fewer than 3 distinct ids: the error names the skewed id domain,
    not the downstream >=3-fold-count symptom (ADVICE r10 item 3)."""
    from gcp_cloudsql_to_bigquery_spark.streaming.elt import _write_id_ordered_shards

    docs = _mk_docs(spark, [5] * 10 + [6] * 5)
    with pytest.raises(RuntimeError, match="distinct doc_id"):
        _write_id_ordered_shards(docs, str(tmp_path / "feed"))


def test_lshttl_shards_empty_table_raises(spark, tmp_path):
    from gcp_cloudsql_to_bigquery_spark.streaming.elt import _write_id_ordered_shards

    docs = _mk_docs(spark, [5]).filter("doc_id < 0")
    with pytest.raises(RuntimeError, match="empty"):
        _write_id_ordered_shards(docs, str(tmp_path / "feed"))


# --- ADVICE item 2: doc states the miss probability --------------------------


def test_lshttl_doc_states_lsh_miss_probability():
    from gcp_cloudsql_to_bigquery_spark.registry import REGISTRY

    doc = REGISTRY["stream_lsh_dedup_ttl"].doc
    assert "(1-0.8^4)^16" in doc and "2.2e-4" in doc


# --- ADVICE item 1: working-tree cleanup -------------------------------------


def test_lshttl_post_drain_cleanup_and_atexit_hook(spark):
    """After the stream drains, the base holds ONLY the candidate dirs the
    returned DataFrame still reads (feed, all idx versions, and the
    checkpoint are gone); the base itself stays in the temp home, which
    the atexit hook removes."""
    import shutil

    from gcp_cloudsql_to_bigquery_spark.streaming.elt import stream_lsh_dedup_ttl
    from gcp_cloudsql_to_bigquery_spark.tmputil import home

    df, bases = _bases_added_during("lshttl_", lambda: stream_lsh_dedup_ttl(spark, SF0001))
    (base,) = bases
    assert df.count() >= 0  # consume while cand_b* is still on disk
    entries = sorted(os.listdir(base))
    assert entries == [e for e in entries if e.startswith("cand_b")], entries
    assert entries, "candidate dirs must exist until the result is consumed"
    # remove ONLY this test's base: removing the whole home here would
    # rmtree live trees other tests in the same session still read lazily
    assert os.path.dirname(base) == home()
    shutil.rmtree(base)
    assert not os.path.exists(base)


# --- VERDICT item 2: executed crash-resume ------------------------------------


def _collect_run_state(spark, base):
    """(sorted candidate pairs, top index version, sorted final index rows)."""
    cands = sorted(
        (r["doc_a"], r["doc_b"])
        for r in spark.read.schema("doc_a long, doc_b long")
        .parquet(os.path.join(base, "cand_b*"))
        .collect()
    )
    idx_dirs = glob.glob(os.path.join(base, "idx_v*"))
    top = max(int(os.path.basename(d)[5:]) for d in idx_dirs)
    idx = sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(base, f"idx_v{top}")).collect()
    )
    return cands, top, idx


def test_lshttl_crash_resume_replay_is_idempotent(spark, tmp_path):
    """Kill between folds + resume from the SAME checkpoint: batch 1's fold
    crashes AFTER its writes land but BEFORE the checkpoint commit (the
    worst-case real crash — dirty cand_b1/idx_v2 on disk); the resumed
    query must REPLAY batch 1 (same batch_id, same file per the offset
    log), overwrite those artifacts idempotently, and finish with the
    exact candidate set and final index of an uninterrupted run."""
    from gcp_cloudsql_to_bigquery_spark.catalog import load
    from gcp_cloudsql_to_bigquery_spark.streaming.elt import (
        _run_lsh_ttl_stream,
        _write_id_ordered_shards,
    )

    docs = load(spark, SF0001, "documents").select("doc_id", "text")

    # uninterrupted reference run
    base1, ckpt1 = str(tmp_path / "run1"), str(tmp_path / "ckpt1")
    os.makedirs(base1)
    _write_id_ordered_shards(docs, os.path.join(base1, "feed"))
    _run_lsh_ttl_stream(spark, docs.schema, base1, ckpt1)
    ref = _collect_run_state(spark, base1)
    assert ref[1] == 3  # three folds completed

    # crashed run: injection after batch 1's writes, before its commit
    base2, ckpt2 = str(tmp_path / "run2"), str(tmp_path / "ckpt2")
    os.makedirs(base2)
    _write_id_ordered_shards(docs, os.path.join(base2, "feed"))

    def crash(batch_id: int) -> None:
        if batch_id == 1:
            raise RuntimeError("injected crash after batch 1 writes")

    with pytest.raises(Exception, match="injected crash"):
        _run_lsh_ttl_stream(spark, docs.schema, base2, ckpt2, on_fold_done=crash)
    # the uncommitted batch's dirty artifacts exist — a real crash's state
    assert os.path.isdir(os.path.join(base2, "cand_b1"))
    assert os.path.isdir(os.path.join(base2, "idx_v2"))

    # resume on the same checkpoint: batch 1 replays, then batch 2 runs
    folds = []
    _run_lsh_ttl_stream(spark, docs.schema, base2, ckpt2, on_fold_done=folds.append)
    assert folds == [1, 2], folds  # batch 0 NOT re-read; batch 1 replayed
    assert _collect_run_state(spark, base2) == ref


@pytest.mark.parametrize("crash_at", [0, 2])
def test_lshttl_crash_resume_at_edge_batches(spark, tmp_path, crash_at):
    """Replay idempotence at the edge positions too: batch 0 (no prior
    index, frontier None — the prev_v=0 path) and the FINAL batch (resume
    with nothing after the replay)."""
    from gcp_cloudsql_to_bigquery_spark.catalog import load
    from gcp_cloudsql_to_bigquery_spark.streaming.elt import (
        _run_lsh_ttl_stream,
        _write_id_ordered_shards,
    )

    docs = load(spark, SF0001, "documents").select("doc_id", "text")
    base1, ckpt1 = str(tmp_path / "run1"), str(tmp_path / "ckpt1")
    os.makedirs(base1)
    _write_id_ordered_shards(docs, os.path.join(base1, "feed"))
    _run_lsh_ttl_stream(spark, docs.schema, base1, ckpt1)
    ref = _collect_run_state(spark, base1)

    base2, ckpt2 = str(tmp_path / "run2"), str(tmp_path / "ckpt2")
    os.makedirs(base2)
    _write_id_ordered_shards(docs, os.path.join(base2, "feed"))

    def crash(batch_id: int) -> None:
        if batch_id == crash_at:
            raise RuntimeError("injected crash")

    with pytest.raises(Exception, match="injected crash"):
        _run_lsh_ttl_stream(spark, docs.schema, base2, ckpt2, on_fold_done=crash)
    folds = []
    _run_lsh_ttl_stream(spark, docs.schema, base2, ckpt2, on_fold_done=folds.append)
    assert folds[0] == crash_at, folds  # the crashed batch replays first
    assert _collect_run_state(spark, base2) == ref


# --- crash-resume extended to the whole versioned-fold family (round 11) ----


_ISESS_SCHEMA = "user_id bigint, t_us bigint, cents bigint"


def _fold_stream_cfg(name):
    from gcp_cloudsql_to_bigquery_spark.streaming import elt as E

    return {
        "cdc": (E._write_cdc_feed, E._cdc_fold_body, "chg_*", None),
        "topk": (E._write_topk_feed, E._topk_fold_body, "arr_*", None),
        "isess": (E._write_isess_feed, E._isess_fold_body, "t*", _ISESS_SCHEMA),
    }[name]


def _final_snapshot(spark, base):
    """(sorted final-snapshot rows, top version) — read from DISK, the way
    the post-drain epilogue does."""
    vdirs = glob.glob(os.path.join(base, "v[0-9]*"))
    top = max(int(os.path.basename(d)[1:]) for d in vdirs)
    rows = spark.read.parquet(os.path.join(base, f"v{top}")).collect()
    return sorted(repr(sorted(r.asDict().items())) for r in rows), top


@pytest.mark.parametrize("name", ["cdc", "topk", "isess"])
def test_versioned_fold_crash_resume_idempotent(spark, tmp_path, name):
    """The batch_id-derived versioning makes ALL three incremental-
    materialization folds replay-safe: crash injected after batch 1's
    writes but before its commit (dirty v2 on disk), resume from the same
    checkpoint, batch 1 replays against the pre-batch snapshot and the
    final materialization equals the uninterrupted run's.  (The round-10
    driver-dict versioning would have read the post-batch snapshot AND
    crashed on the existing create-mode v{N} path.)"""
    from gcp_cloudsql_to_bigquery_spark.streaming.elt import (
        _run_versioned_fold_stream,
    )

    write_feed, fold_body, glob_pat, fixed_schema = _fold_stream_cfg(name)

    def prep(base):
        schema = write_feed(spark, SF0001, os.path.join(base, "feed"))
        return fixed_schema if fixed_schema is not None else schema

    # uninterrupted reference run
    base1, ckpt1 = str(tmp_path / "b1"), str(tmp_path / "c1")
    os.makedirs(base1)
    schema = prep(base1)
    _run_versioned_fold_stream(
        spark, schema, base1, os.path.join(base1, "feed", glob_pat), ckpt1,
        fold_body(base1),
    )
    ref = _final_snapshot(spark, base1)
    assert ref[1] >= 3

    # crashed run + resume
    base2, ckpt2 = str(tmp_path / "b2"), str(tmp_path / "c2")
    os.makedirs(base2)
    prep(base2)

    def crash(batch_id: int) -> None:
        if batch_id == 1:
            raise RuntimeError("injected crash after batch 1 writes")

    with pytest.raises(Exception, match="injected crash"):
        _run_versioned_fold_stream(
            spark, schema, base2, os.path.join(base2, "feed", glob_pat), ckpt2,
            fold_body(base2), on_fold_done=crash,
        )
    assert os.path.isdir(os.path.join(base2, "v2"))  # dirty uncommitted write

    folds = []
    _run_versioned_fold_stream(
        spark, schema, base2, os.path.join(base2, "feed", glob_pat), ckpt2,
        fold_body(base2), on_fold_done=folds.append,
    )
    assert folds[0] == 1, folds  # batch 0 NOT re-read; batch 1 replayed
    assert _final_snapshot(spark, base2) == ref


@pytest.mark.parametrize(
    "qname",
    ["stream_cdc_upsert", "stream_incremental_topk", "stream_incremental_sessionize"],
)
def test_versioned_stream_post_drain_cleanup(spark, qname):
    """After the stream drains, only the FINAL snapshot (which the returned
    DataFrame lazily reads) survives in the base — feed, checkpoint, and
    superseded versions are gone (ADVICE r10 item 1, family-wide)."""
    from gcp_cloudsql_to_bigquery_spark.registry import REGISTRY

    prefix = {
        "stream_cdc_upsert": "cdc_",
        "stream_incremental_topk": "topk_",
        "stream_incremental_sessionize": "isess_",
    }[qname]
    df, bases = _bases_added_during(prefix, lambda: REGISTRY[qname].fn(spark, SF0001))
    (base,) = bases
    assert df.count() > 0
    entries = os.listdir(base)
    assert len(entries) == 1 and entries[0].startswith("v"), entries


@pytest.mark.parametrize(
    "qname", ["stream_tumbling_window", "stream_processing_time_trigger"]
)
def test_memory_sink_checkpoint_removed_after_termination(spark, qname):
    """The memory sink holds the rows; the per-invocation checkpoint
    (RAM-backed /dev/shm) must be gone once the query terminates — and the
    returned DataFrame must still be fully consumable afterwards."""
    from gcp_cloudsql_to_bigquery_spark.registry import REGISTRY

    df, ckpts = _tmp_dirs_created_during(
        "ckpt_", lambda: REGISTRY[qname].fn(spark, SF0001)
    )
    assert ckpts, "checkpoint should be allocated through tmputil.tmp_dir"
    assert not any(os.path.exists(c) for c in ckpts), ckpts
    assert df.count() > 0  # memory sink independent of the checkpoint


def test_late_data_audit_watch_removed_after_drain(spark):
    from gcp_cloudsql_to_bigquery_spark.registry import REGISTRY

    df, watches = _tmp_dirs_created_during(
        "late_watch_", lambda: REGISTRY["stream_late_data_audit"].fn(spark, SF0001)
    )
    (watch,) = watches
    assert not os.path.exists(watch)
    assert df.count() > 0


def test_checkpoint_resume_keeps_only_the_lazy_sink(spark):
    """After the resume completes, the watch shards and the checkpoint are
    gone; the parquet sink — the only thing the returned DataFrame reads —
    survives until the atexit sweep."""
    from gcp_cloudsql_to_bigquery_spark.registry import REGISTRY
    from gcp_cloudsql_to_bigquery_spark.streaming.events import _CKPT_DIR
    from gcp_cloudsql_to_bigquery_spark.tmputil import home

    df, paths = _tmp_dirs_created_during(
        "resume_", lambda: REGISTRY["stream_checkpoint_resume"].fn(spark, SF0001)
    )
    by_kind = {os.path.basename(p).split("_")[1]: p for p in paths}
    assert set(by_kind) == {"watch", "ckpt", "sink"}, paths
    assert not os.path.exists(by_kind["watch"])
    assert not os.path.exists(by_kind["ckpt"])
    assert os.path.exists(by_kind["sink"])
    # the lazily-read sink stays in the checkpoint root's home until exit
    assert os.path.dirname(by_kind["sink"]) == home(_CKPT_DIR)
    assert df.count() > 0


def test_lshttl_out_of_order_arrival_raises(spark, tmp_path):
    """The in-order guard is load-bearing for TTL eviction soundness: a
    feed whose FIRST file carries the HIGH id range (mtime-ordered ahead
    of the low range) must raise the out-of-order error, not silently
    miss pairs."""
    from gcp_cloudsql_to_bigquery_spark.streaming.elt import _run_lsh_ttl_stream

    docs = _mk_docs(spark, range(60))
    base, ckpt = str(tmp_path / "b"), str(tmp_path / "c")
    feed = os.path.join(base, "feed")
    os.makedirs(base)
    for shard, (lo, hi, mtime) in enumerate(
        [(40, 60, 1_700_000_000), (0, 40, 1_700_000_001)]  # HIGH range first
    ):
        path = os.path.join(feed, f"arr_{shard}")
        docs.filter(f"doc_id >= {lo} and doc_id < {hi}").coalesce(1).write.parquet(path)
        for f in os.listdir(path):
            os.utime(os.path.join(path, f), (mtime, mtime))
    with pytest.raises(Exception, match="out-of-order arrival"):
        _run_lsh_ttl_stream(spark, docs.schema, base, ckpt)


def test_finish_versioned_stream_fold_count_from_disk(spark, tmp_path):
    """The >=min_folds assertion reads the version from DISK — the property
    that survives a crash-resume where any driver counter restarts at 0."""
    from gcp_cloudsql_to_bigquery_spark.streaming.elt import (
        _finish_versioned_stream,
    )
    from gcp_cloudsql_to_bigquery_spark.tmputil import home

    base = str(tmp_path / "b")
    for v in (1, 2):
        spark.range(3).write.parquet(os.path.join(base, f"v{v}"))
    with pytest.raises(RuntimeError, match=">=3 incremental folds, got 2"):
        _finish_versioned_stream(spark, base, str(tmp_path / "c"), 3, "t")

    spark.range(5).write.parquet(os.path.join(base, "v3"))
    home_before = os.listdir(home())
    out = _finish_versioned_stream(spark, base, str(tmp_path / "c"), 3, "t")
    assert out.count() == 5
    assert os.listdir(base) == ["v3"]  # superseded versions removed
    # the query functions allocate the base in the temp home (error paths
    # stay covered); the epilogue allocates nothing
    assert sorted(os.listdir(home())) == sorted(home_before)


@pytest.mark.parametrize("seed", [11, 22, 33])
def test_shard_writer_property_hostile_id_domains(spark, tmp_path, seed):
    """Seeded property net over hostile-but-valid doc_id domains (negative
    offsets, million-wide gaps, duplicates): the writer always produces
    three non-empty, value-disjoint, id-ordered shards covering every row,
    or raises the named <3-distinct-ids error."""
    import random

    from gcp_cloudsql_to_bigquery_spark.streaming.elt import _write_id_ordered_shards

    r = random.Random(seed)
    ids, cur = [], r.randint(-(10**9), 10**9)
    for _ in range(r.randint(3, 400)):
        ids.append(cur)
        if r.random() >= 0.3:  # else: duplicate the current id
            cur += r.randint(1, 10**6)
    r.shuffle(ids)
    docs = _mk_docs(spark, ids)
    feed = str(tmp_path / "feed")
    if len(set(ids)) < 3:
        with pytest.raises(RuntimeError, match="distinct doc_id"):
            _write_id_ordered_shards(docs, feed)
        return
    _write_id_ordered_shards(docs, feed)
    shards = _read_shards(spark, feed)
    assert len(shards) == 3 and all(shards)
    assert sorted(x for s in shards for x in s) == sorted(ids)
    for a, b in zip(shards, shards[1:]):
        assert max(a) < min(b)  # duplicates never split across a boundary


def test_elt_file_arrival_post_drain_cleanup(spark):
    """The watch dir's raw CSV arrivals are removed once the sink is
    committed; only the sink remains for the returned DataFrame."""
    from gcp_cloudsql_to_bigquery_spark.registry import REGISTRY

    df, bases = _bases_added_during(
        "stream_elt_", lambda: REGISTRY["stream_elt_file_arrival"].fn(spark, SF0001)
    )
    (base,) = bases
    assert df.count() > 0
    assert os.listdir(base) == ["loaded"]
