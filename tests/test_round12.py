"""Round-12 hardening witnesses (ADVICE r11 closures + VERDICT r11 item 2).

1. ADVICE r11 item 1 — the per-invocation checkpoint mkdtemp happens
   BEFORE the session shuffle-partition override in run_to_completion and
   stream_processing_time_trigger: an allocator failure (/dev/shm full)
   can no longer leak the override past the call.
2. ADVICE r11 item 3 — eager tmp removal also DEREGISTERS the path
   (``_remove_stream_tmp``), so ``tmputil._TMP_BASES`` stays an inventory
   of genuinely live trees instead of growing unboundedly across a
   long-lived process (a full registry build allocates hundreds).
   (ADVICE r11 item 2 — the r11 cleanup test no longer drains the global
   registry — is witnessed in test_round11.py itself.)
3. VERDICT r11 item 2 — batch-side ``mkdtemp`` trees (ingest staging,
   the Derby database dir, the dedup fingerprint index) register in the
   same shared atexit registry; lazily-read trees are registration-only.
"""

from __future__ import annotations

import os
import tempfile

import pytest

SF = "/root/testdata/sf0.001"


# --- ADVICE r11 item 1: conf-leak guard --------------------------------------


def test_run_to_completion_conf_restored_when_mkdtemp_fails(spark, monkeypatch):
    """If checkpoint allocation raises, the session-wide shuffle-partition
    override must not leak — mkdtemp now precedes conf.set, so the conf is
    simply never touched."""
    from gcp_cloudsql_to_bigquery_spark.streaming import events as _ev

    stream_df = spark.readStream.format("rate").load()
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def boom(*a, **k):
        raise OSError(28, "No space left on device")

    monkeypatch.setattr(tempfile, "mkdtemp", boom)
    with pytest.raises(OSError):
        _ev.run_to_completion(stream_df, spark, output_mode="append")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_processing_time_trigger_conf_restored_when_mkdtemp_fails(
    spark, monkeypatch
):
    from gcp_cloudsql_to_bigquery_spark.registry import REGISTRY

    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def boom(*a, **k):
        raise OSError(28, "No space left on device")

    monkeypatch.setattr(tempfile, "mkdtemp", boom)
    with pytest.raises(OSError):
        REGISTRY["stream_processing_time_trigger"].fn(spark, SF)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


# --- ADVICE r11 item 3: registry holds only live trees -----------------------


def test_remove_stream_tmp_unregistered_path_is_noop(tmp_path):
    """Removing a path that was never registered (or already deregistered)
    still clears the disk and must not raise or disturb the registry."""
    from gcp_cloudsql_to_bigquery_spark.streaming.events import (
        _remove_stream_tmp,
    )
    from gcp_cloudsql_to_bigquery_spark.tmputil import _TMP_BASES

    p = str(tmp_path / "never_registered")
    os.makedirs(p)
    before = list(_TMP_BASES)
    _remove_stream_tmp(p)
    assert not os.path.exists(p)
    assert _TMP_BASES == before


# --- VERDICT r11 item 2: batch-side mkdtemp trees registered ------------------


def test_no_unregistered_mkdtemp_in_package():
    """Every tmp-dir allocation in the package routes through
    tmputil.tmp_dir (creation-time atexit registration) — the grep the
    VERDICT r11 done-criterion names, but AST-based so a comment or
    docstring that spells out the call can't false-positive the suite."""
    import ast

    import gcp_cloudsql_to_bigquery_spark as pkg

    root = os.path.dirname(pkg.__file__)
    offenders = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".py") and f != "tmputil.py":
                p = os.path.join(dirpath, f)
                with open(p) as fh:
                    tree = ast.parse(fh.read())
                for node in ast.walk(tree):
                    if isinstance(node, ast.Call):
                        fn = node.func
                        name = (
                            fn.attr
                            if isinstance(fn, ast.Attribute)
                            else fn.id if isinstance(fn, ast.Name) else None
                        )
                        if name == "mkdtemp":
                            offenders.append(
                                f"{os.path.relpath(p, root)}:{node.lineno}"
                            )
    assert offenders == []


def test_batch_staging_tree_registered_for_atexit(spark):
    """A batch ELT query's lazily-read staging tree (impossible to remove
    eagerly — the returned DataFrame reads it) is registered in the shared
    atexit registry at creation time."""
    from gcp_cloudsql_to_bigquery_spark import workload  # noqa: F401 (import populates REGISTRY)
    from gcp_cloudsql_to_bigquery_spark.registry import REGISTRY
    from gcp_cloudsql_to_bigquery_spark.tmputil import _TMP_BASES

    before = set(_TMP_BASES)
    df = REGISTRY["elt_roundtrip_nation"].fn(spark, SF)
    assert df.count() > 0
    added = [
        p
        for p in _TMP_BASES
        if p not in before and os.path.basename(p).startswith("elt_nation_")
    ]
    assert added, "staging tree must be registered at creation"
    assert all(os.path.exists(p) for p in added)


def test_derby_db_dir_registered_for_atexit(spark):
    """The live-JDBC round-trip's Derby database dir registers too."""
    from gcp_cloudsql_to_bigquery_spark import workload  # noqa: F401 (import populates REGISTRY)
    from gcp_cloudsql_to_bigquery_spark.registry import REGISTRY
    from gcp_cloudsql_to_bigquery_spark.tmputil import _TMP_BASES

    before = set(_TMP_BASES)
    df = REGISTRY["src_jdbc_roundtrip"].fn(spark, SF)
    assert df.count() > 0
    added = [
        p
        for p in _TMP_BASES
        if p not in before and os.path.basename(p).startswith("derby_")
    ]
    assert added, "Derby db dir must be registered at creation"


def test_atexit_sweep_runs_on_real_interpreter_exit(tmp_path):
    """The registration contract, executed end to end: a subprocess
    allocates through tmputil.tmp_dir and exits normally WITHOUT removing
    the tree — the atexit hook must have swept it.  (The in-process tests
    can only witness registration; this witnesses the sweep itself.)"""
    import subprocess
    import sys as _sys

    import gcp_cloudsql_to_bigquery_spark as pkg

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    script = (
        f"import sys; sys.path.insert(0, {repo_root!r})\n"
        "from gcp_cloudsql_to_bigquery_spark.tmputil import tmp_dir\n"
        "import os\n"
        "p = tmp_dir('atexit_witness_')\n"
        "open(os.path.join(p, 'payload'), 'w').write('x')\n"
        "print(p)\n"
    )
    out = subprocess.run(
        [_sys.executable, "-c", script], capture_output=True, text=True, check=True
    )
    path = out.stdout.strip().splitlines()[-1]
    assert path.startswith(tempfile.gettempdir()) or path.startswith("/dev/shm")
    assert not os.path.exists(path), "atexit sweep must remove the registered tree"


def test_registry_net_growth_zero_for_fully_cleaned_query(spark):
    """stream_tumbling_window's only tmp allocation (the memory-sink
    checkpoint) is eagerly removed AND deregistered: zero net registry
    growth per invocation — the property that keeps the atexit list
    bounded over a 375-query registry build."""
    from gcp_cloudsql_to_bigquery_spark.registry import REGISTRY
    from gcp_cloudsql_to_bigquery_spark.tmputil import _TMP_BASES

    before = set(_TMP_BASES)
    df = REGISTRY["stream_tumbling_window"].fn(spark, SF)
    assert df.count() > 0
    assert [p for p in _TMP_BASES if p not in before] == []


# --- property net: the registry is exactly the live allocations ---------------


def test_tmputil_registry_property_random_interleavings():
    """Seeded property net over random alloc/remove interleavings: after
    any operation sequence, the registry segment this test added holds
    EXACTLY the allocated-and-not-removed paths, each existing on disk;
    removal of foreign (never-registered) paths never disturbs it.  The
    model is a plain set; divergence means the registry stopped being an
    inventory of live trees (the ADVICE r11 item 3 contract)."""
    import random
    import shutil

    from gcp_cloudsql_to_bigquery_spark.tmputil import _TMP_BASES, remove_tmp, tmp_dir

    for seed in (7, 23, 1108):
        r = random.Random(seed)
        before = set(_TMP_BASES)
        model, foreign = set(), []
        try:
            for _ in range(60):
                op = r.random()
                if op < 0.5 or not model:
                    model.add(tmp_dir("prop_"))
                elif op < 0.85:
                    p = r.choice(sorted(model))
                    remove_tmp(p)
                    model.discard(p)
                else:
                    f = tempfile.mkdtemp(prefix="prop_foreign_")
                    foreign.append(f)
                    remove_tmp(f)  # never registered: disk-only removal
                added = [p for p in _TMP_BASES if p not in before]
                assert sorted(added) == sorted(model), (seed, added, model)
                assert all(os.path.isdir(p) for p in added)
        finally:
            for p in list(model):
                remove_tmp(p)
            for f in foreign:
                shutil.rmtree(f, ignore_errors=True)
        assert [p for p in _TMP_BASES if p not in before] == []


# --- crash ledger: repair for SIGKILLed processes (atexit never ran) ----------


def test_reap_removes_dead_pid_ledger_trees():
    """A ledger naming a dead PID gets its complete, root-anchored entries
    removed and is itself deleted; a line truncated mid-append (no
    terminator — the SIGKILL-during-write case) and a path outside the
    allocation roots are both SKIPPED, never rmtree'd: ledger corruption
    can leak a tree but cannot delete the wrong one."""
    import shutil

    from gcp_cloudsql_to_bigquery_spark import tmputil

    victim = tempfile.mkdtemp(prefix="reap_victim_")  # direct child of the root
    open(os.path.join(victim, "payload"), "w").write("x")
    decoy = tempfile.mkdtemp(prefix="reap_decoy_")  # prefix-collision target
    truncated = decoy  # a complete path, but written WITHOUT the terminator
    outside = tempfile.mkdtemp(prefix="nested_", dir=decoy)  # not a root child
    # PID 2**22+1 exceeds the default pid_max and can never be alive
    dead = os.path.join(tmputil._LEDGER_DIR, f"{2**22 + 1}.lst")
    os.makedirs(tmputil._LEDGER_DIR, exist_ok=True)
    try:
        with open(dead, "w") as fh:
            fh.write(victim + tmputil._LINE_END + "\n")
            fh.write(truncated + "\n")  # no terminator: crash mid-append
            fh.write(outside + tmputil._LINE_END + "\n")
        removed = tmputil.reap_stale_tmp()
        assert victim in removed
        assert not os.path.exists(victim)
        assert os.path.exists(decoy), "unterminated line must not be reaped"
        assert os.path.exists(outside), "non-root-child must not be reaped"
        assert not os.path.exists(dead)
    finally:
        shutil.rmtree(decoy, ignore_errors=True)


def test_reap_never_touches_live_pid_ledger(tmp_path):
    """Our own (live) ledger — and any live process's — is never reaped."""
    from gcp_cloudsql_to_bigquery_spark import tmputil

    mine = tmputil.tmp_dir("reap_live_")
    try:
        removed = tmputil.reap_stale_tmp()
        assert mine not in removed
        assert os.path.isdir(mine)
        with open(tmputil._ledger_path()) as fh:
            assert (mine + tmputil._LINE_END) in fh.read().splitlines()
    finally:
        tmputil.remove_tmp(mine)


def test_sigkill_leak_is_reaped_by_next_process():
    """The exact observed leak class, end to end: a subprocess allocates
    through tmp_dir and is SIGKILLed (atexit never runs, tree survives);
    a SECOND process's import-time janitor must find the dead ledger and
    remove the tree."""
    import signal
    import subprocess
    import sys as _sys
    import time

    import gcp_cloudsql_to_bigquery_spark as pkg

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    alloc = (
        f"import sys; sys.path.insert(0, {repo_root!r})\n"
        "from gcp_cloudsql_to_bigquery_spark.tmputil import tmp_dir\n"
        "import sys as s, time\n"
        "print(tmp_dir('sigkill_witness_'), flush=True)\n"
        "time.sleep(60)\n"  # hold until killed
    )
    proc = subprocess.Popen(
        [_sys.executable, "-c", alloc], stdout=subprocess.PIPE, text=True
    )
    try:
        path = proc.stdout.readline().strip()
        assert os.path.isdir(path)
        proc.send_signal(signal.SIGKILL)
        proc.wait(timeout=30)
        assert os.path.isdir(path), "SIGKILL must leak the tree (no atexit)"
        # a fresh process imports tmputil -> import-time reap repairs it
        out = subprocess.run(
            [
                _sys.executable,
                "-c",
                f"import sys; sys.path.insert(0, {repo_root!r})\n"
                "import gcp_cloudsql_to_bigquery_spark.tmputil as t\n"
                f"print(not __import__('os').path.exists({path!r}))",
            ],
            capture_output=True,
            text=True,
            check=True,
        )
        assert out.stdout.strip().splitlines()[-1] == "True"
        assert not os.path.exists(path)
    finally:
        if proc.poll() is None:
            proc.kill()


def test_reap_concurrent_live_process_keeps_trees():
    """The janitor's core safety claim, executed: two processes allocate
    concurrently; one is SIGKILLed, one stays alive.  A reap must remove
    the dead process's tree and ledger while the live process's tree AND
    ledger survive untouched; after the survivor is killed too, a second
    reap collects it."""
    import signal
    import subprocess
    import sys as _sys

    import gcp_cloudsql_to_bigquery_spark as pkg
    from gcp_cloudsql_to_bigquery_spark import tmputil

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    alloc = (
        f"import sys; sys.path.insert(0, {repo_root!r})\n"
        "from gcp_cloudsql_to_bigquery_spark.tmputil import tmp_dir\n"
        "import time\n"
        "print(tmp_dir('concur_witness_'), flush=True)\n"
        "time.sleep(120)\n"
    )
    survivor = subprocess.Popen(
        [_sys.executable, "-c", alloc], stdout=subprocess.PIPE, text=True
    )
    victim = subprocess.Popen(
        [_sys.executable, "-c", alloc], stdout=subprocess.PIPE, text=True
    )
    try:
        live_tree = survivor.stdout.readline().strip()
        dead_tree = victim.stdout.readline().strip()
        victim.send_signal(signal.SIGKILL)
        victim.wait(timeout=30)

        removed = tmputil.reap_stale_tmp()
        assert dead_tree in removed and not os.path.exists(dead_tree)
        assert live_tree not in removed and os.path.isdir(live_tree)
        live_ledger = os.path.join(tmputil._LEDGER_DIR, f"{survivor.pid}.lst")
        assert os.path.exists(live_ledger), "live ledger must survive the reap"

        survivor.send_signal(signal.SIGKILL)
        survivor.wait(timeout=30)
        removed2 = tmputil.reap_stale_tmp()
        assert live_tree in removed2 and not os.path.exists(live_tree)
        assert not os.path.exists(live_ledger)
    finally:
        for p in (survivor, victim):
            if p.poll() is None:
                p.kill()
