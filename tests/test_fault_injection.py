"""Fault-injection parity for the checkpoint/no-recompute guarantee.

The reference's reason to exist is surviving executor loss without
recomputing upstream stages: map outputs live on remote storage, so
``fileLost`` never invalidates them (vendored DAGScheduler.scala:2038-2040),
and a fetch of a corrupt block retries ONCE then fails the task rather than
silently degrading (RemoteShuffleBlockIterator.scala:529-542,
RemoteShuffleBlockIteratorSuite.scala:47 "retry corrupt blocks").

Our stage-boundary analog is :func:`checkpoint_to`: downstream lineage
starts AT the materialized files.  These tests inject the failures the
reference's suites cover and assert the two properties that matter:

1. downstream reads come from the materialization, never from a silent
   recompute of upstream lineage (source mutation is invisible);
2. losing or corrupting a materialized block FAILS LOUDLY — no partial
   result, no quiet fallback past the lineage cut.

Plus the commit-race analog of writeIndexFileAndCommit's existing-attempt
dedup (RemoteShuffleBlockResolver.scala:203-244): racing same-path writers
produce exactly one readable winner.
"""

from __future__ import annotations

import glob
import os
import threading

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from remote_shuffle_spark.plans.shuffle_policy import (
    CheckpointIntegrityError,
    _commit_manifest,
    build_once,
    checkpoint_to,
    read_checkpoint,
)


@pytest.fixture()
def source_dir(spark, tmp_path):
    """A mutable parquet source feeding the pipeline under test."""
    p = str(tmp_path / "source")
    spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("g"), F.lit(1).alias("v")
    ).write.mode("overwrite").parquet(p)
    return p


def test_checkpoint_survives_source_loss_no_recompute(spark, tmp_path, source_dir):
    """After the cut, upstream can vanish entirely: results must come from
    the materialized bytes (executor-loss parity — the reference never
    re-runs map stages because their output outlives the executor)."""
    ckpt = str(tmp_path / "ckpt")
    upstream = spark.read.parquet(source_dir).groupBy("g").agg(F.sum("v").alias("n"))
    cut = checkpoint_to(upstream.repartition(4), ckpt)
    before = {r.g: r.n for r in cut.collect()}

    # poison the upstream: overwrite source with DIFFERENT data, then
    # delete it outright — a recompute past the cut would either see the
    # new data or fail on the missing source
    spark.range(0, 10).select(
        F.col("id"), F.lit(99).alias("g"), F.lit(1000).alias("v")
    ).write.mode("overwrite").parquet(source_dir)

    after = {r.g: r.n for r in cut.filter(F.col("g") >= 0).collect()}
    assert after == before
    assert 99 not in after  # never saw the mutated source


def test_deleted_materialization_block_fails_loudly(spark, tmp_path, source_dir):
    """Losing a materialized part file must raise, not shrink the result.

    A naive fresh directory listing simply WOULDN'T SEE the deleted file —
    the dataset would be quietly 25% smaller.  The commit manifest makes
    the loss detectable: read_checkpoint refuses the directory (the analog
    of the reference failing the fetch after its single retry rather than
    fabricating an empty block)."""
    assert spark.conf.get("spark.sql.files.ignoreMissingFiles") == "false"
    ckpt = str(tmp_path / "ckpt")
    cut = checkpoint_to(spark.read.parquet(source_dir).repartition(4), ckpt)
    assert cut.count() == 1000

    parts = sorted(glob.glob(os.path.join(ckpt, "part-*.parquet")))
    assert len(parts) == 4
    os.remove(parts[1])

    with pytest.raises(CheckpointIntegrityError, match="lost blocks"):
        read_checkpoint(spark, ckpt)


def test_resized_materialization_block_fails_loudly(spark, tmp_path, source_dir):
    """A truncated/rewritten block (size mismatch vs manifest) must refuse
    the read — RemoteShuffleBlockIteratorSuite.scala:47 parity: corruption
    is detected and surfaced, never returned as data."""
    ckpt = str(tmp_path / "ckpt")
    checkpoint_to(spark.read.parquet(source_dir).repartition(4), ckpt)

    parts = sorted(glob.glob(os.path.join(ckpt, "part-*.parquet")))
    with open(parts[2], "wb") as f:
        f.write(b"\x00garbage-not-parquet\x00" * 64)

    with pytest.raises(CheckpointIntegrityError, match="resized"):
        read_checkpoint(spark, ckpt)


def test_same_size_corruption_fails_in_parquet_layer(spark, tmp_path, source_dir):
    """In-place bit-rot that preserves file size passes the manifest but
    must still fail at the parquet decode layer, not return garbage."""
    ckpt = str(tmp_path / "ckpt")
    checkpoint_to(spark.read.parquet(source_dir).repartition(4), ckpt)

    parts = sorted(glob.glob(os.path.join(ckpt, "part-*.parquet")))
    size = os.path.getsize(parts[2])
    with open(parts[2], "wb") as f:
        f.write(b"\xde\xad" * (size // 2) + b"\x00" * (size % 2))
    assert os.path.getsize(parts[2]) == size

    df = read_checkpoint(spark, ckpt)  # manifest can't see same-size rot
    with pytest.raises(Py4JJavaError):
        df.agg(F.sum("id")).collect()


def test_concurrent_checkpoint_commit_one_winner(spark, tmp_path):
    """Two racing writers to the same checkpoint path (speculative/retried
    attempt analog): both must complete without interleaving the
    overwrite's delete+write phases, and the surviving dataset must be one
    writer's COMPLETE output (RemoteShuffleBlockResolver.scala:203-244
    existing-attempt dedup: one winner, readable result)."""
    ckpt = str(tmp_path / "ckpt_race")
    df = spark.range(0, 5000).select(F.col("id"), (F.col("id") * 2).alias("v"))

    errors: list[Exception] = []
    barrier = threading.Barrier(2)

    def attempt():
        try:
            barrier.wait(timeout=30)
            checkpoint_to(df.repartition(4), ckpt)
        except Exception as e:  # noqa: BLE001 — recorded and asserted below
            errors.append(e)

    threads = [threading.Thread(target=attempt) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors

    out = spark.read.parquet(ckpt)
    assert out.count() == 5000
    assert out.agg(F.sum("v").alias("s")).collect()[0].s == sum(2 * i for i in range(5000))


def test_sequential_recommit_is_idempotent(spark, tmp_path):
    """A retried commit (same attempt re-run) replaces the path atomically;
    readers of the new frame see exactly the recommitted data."""
    ckpt = str(tmp_path / "ckpt_retry")
    a = checkpoint_to(spark.range(0, 100).repartition(3), ckpt)
    assert a.count() == 100
    b = checkpoint_to(spark.range(0, 250).repartition(3), ckpt)
    assert b.count() == 250
    assert spark.read.parquet(ckpt).count() == 250


def test_corrupt_block_rebuilds_once_from_lineage(spark, tmp_path, source_dir):
    """Retry-once parity (RemoteShuffleBlockIterator.scala:429-438, suite
    :47): a corrupt checkpoint with lineage available is re-materialized
    EXACTLY once — first read after corruption heals and returns the full
    result; persistent corruption (re-injected by the rebuild itself,
    simulating a bad disk) raises after the single retry instead of
    looping or returning a partial frame."""
    ckpt = str(tmp_path / "ckpt")
    src = spark.read.parquet(source_dir).repartition(4)
    checkpoint_to(src, ckpt)

    calls = {"n": 0}

    def rebuild():
        calls["n"] += 1
        return spark.read.parquet(source_dir).repartition(4)

    parts = sorted(glob.glob(os.path.join(ckpt, "part-*.parquet")))
    os.remove(parts[1])

    healed = read_checkpoint(spark, ckpt, rebuild=rebuild)
    assert healed.count() == 1000
    assert calls["n"] == 1  # exactly one rebuild

    # clean read afterwards: no further rebuilds
    assert read_checkpoint(spark, ckpt, rebuild=rebuild).count() == 1000
    assert calls["n"] == 1

    # persistent storage fault: every commit loses a block right after the
    # manifest lands (patched at the module seam), so the single rebuild
    # also yields a broken checkpoint -> the read must raise, not loop
    import remote_shuffle_spark.plans.shuffle_policy as sp

    real_write = sp._write_manifest

    def write_then_lose(spark_, path_):
        real_write(spark_, path_)
        os.remove(sorted(glob.glob(os.path.join(path_, "part-*.parquet")))[0])

    os.remove(sorted(glob.glob(os.path.join(ckpt, "part-*.parquet")))[2])
    sp._write_manifest = write_then_lose
    try:
        with pytest.raises(CheckpointIntegrityError, match="lost blocks"):
            read_checkpoint(spark, ckpt, rebuild=rebuild)
    finally:
        sp._write_manifest = real_write
    # exactly one retry for this read, not a loop
    assert calls["n"] == 2


# --- build_once: the same commit for cached derived directories ----------


@pytest.fixture
def cache_root(tmp_path, monkeypatch):
    """build_once's cache lives under tempfile.gettempdir(); isolate it."""
    import tempfile

    root = tmp_path / "cache"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    return root


def _counting_build(calls: dict):
    """A build writing one top-level and one partition-dir data file plus a
    marker, counting how often it runs."""

    def build(tmp: str) -> None:
        calls["n"] += 1
        os.makedirs(os.path.join(tmp, "cell=0"))
        with open(os.path.join(tmp, "part-0.bin"), "w") as fh:
            fh.write("alpha")
        with open(os.path.join(tmp, "cell=0", "part-1.bin"), "w") as fh:
            fh.write("beta")
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    return build


def _data_files(d: str) -> set[str]:
    return {
        os.path.relpath(os.path.join(r, n), d)
        for r, _, ns in os.walk(d)
        for n in ns
        if not n.startswith(("_", "."))
    }


@pytest.mark.parametrize(
    "damage", ["lost_top_file", "lost_nested_file", "truncated", "lost_manifest"]
)
def test_build_once_rebuilds_incomplete_dir(cache_root, tmp_path, damage):
    """An out dir that lost or resized a data file, or its manifest, is
    rebuilt and the rebuild is served — never the damaged dir (the
    rename onto a non-empty dir would fail, so it must be removed first)."""
    src = tmp_path / "src.parquet"
    src.write_text("x")
    calls = {"n": 0}
    build = _counting_build(calls)
    out = build_once("t", [str(src)], (1,), build)
    assert build_once("t", [str(src)], (1,), build) == out
    assert calls["n"] == 1  # complete hit: no rebuild
    full = _data_files(out)
    assert full == {"part-0.bin", os.path.join("cell=0", "part-1.bin")}

    if damage == "lost_top_file":
        os.remove(os.path.join(out, "part-0.bin"))
    elif damage == "lost_nested_file":
        os.remove(os.path.join(out, "cell=0", "part-1.bin"))
    elif damage == "truncated":
        open(os.path.join(out, "part-0.bin"), "w").close()
    else:
        os.remove(os.path.join(out, "_rss_manifest.json"))

    again = build_once("t", [str(src)], (1,), build)
    assert calls["n"] == 2
    assert again == out
    assert _data_files(again) == full
    assert os.path.getsize(os.path.join(again, "part-0.bin")) == len("alpha")
    assert not glob.glob(f"{out}.tmp.*")


def test_build_once_key_follows_source_snapshot_and_params(cache_root, tmp_path):
    """Touching a file source, or adding a data file to a directory
    source, yields a new key; so do different params."""
    src = tmp_path / "src.parquet"
    src.write_text("x")
    srcdir = tmp_path / "srcdir"
    srcdir.mkdir()
    (srcdir / "part-0.parquet").write_text("y")
    calls = {"n": 0}
    build = _counting_build(calls)
    first = build_once("t", [str(src), str(srcdir)], (1,), build)
    assert build_once("t", [str(src), str(srcdir)], (2,), build) != first

    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    touched = build_once("t", [str(src), str(srcdir)], (1,), build)
    assert touched != first

    (srcdir / "part-1.parquet").write_text("z")
    grown = build_once("t", [str(src), str(srcdir)], (1,), build)
    assert grown not in (first, touched)
    # marker files in a directory source are not part of its snapshot
    (srcdir / "_SUCCESS").write_text("")
    assert build_once("t", [str(src), str(srcdir)], (1,), build) == grown
    assert calls["n"] == 4


@pytest.mark.parametrize("winner_complete", [True, False])
def test_build_once_lost_race_serves_a_complete_dir(cache_root, tmp_path, winner_complete):
    """A concurrent builder commits ``out`` while this one builds: the
    loser serves the winner only if it is complete, else its own tmp."""
    src = tmp_path / "src.parquet"
    src.write_text("x")
    inner = _counting_build({"n": 0})

    def racing_build(tmp: str) -> None:
        out = tmp.rsplit(".tmp.", 1)[0]
        inner(out)  # the competitor lands first ...
        if winner_complete:
            _commit_manifest(out)
        inner(tmp)  # ... then this build finishes

    got = build_once("t", [str(src)], (), racing_build)
    out = got.rsplit(".tmp.", 1)[0]
    assert (got == out) is winner_complete
    assert _data_files(got) == {"part-0.bin", os.path.join("cell=0", "part-1.bin")}
    assert os.path.exists(os.path.join(got, "_rss_manifest.json"))
    if winner_complete:
        assert not glob.glob(f"{out}.tmp.*")  # the loser's build is dropped
