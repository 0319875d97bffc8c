"""The streaming state layer's filesystem shim (operators/statefs.py —
VERDICT r9 missing #1): the SAME state operations must work over plain
POSIX paths (the local fast path) and Hadoop-FS URIs (the cluster
path: object stores, HDFS). The Hadoop backend is exercised here with
``file:`` URIs, which route through the real JVM
``org.apache.hadoop.fs.FileSystem`` stack — the exact code path an
``s3a://`` root takes, minus the network.
"""

from __future__ import annotations

import os

import pytest

from notion_vector_store_etl_pipeline_spark.operators.statefs import (
    HadoopFS,
    PosixFS,
    StateLog,
    batch_dirs,
    path_scheme,
    read_json,
    state_fs,
    write_json_atomic,
)


def test_path_scheme():
    assert path_scheme("/root/x/y") == ""
    assert path_scheme("relative/path") == ""
    assert path_scheme("s3a://bucket/key") == "s3a"
    assert path_scheme("file:/tmp/x") == "file"
    assert path_scheme("hdfs://nn:8020/data") == "hdfs"
    # a colon later in the path is not a scheme
    assert path_scheme("/data/weird:name") == ""


def test_state_fs_routing(spark, tmp_path):
    assert isinstance(state_fs(None, str(tmp_path)), PosixFS)
    assert isinstance(state_fs(spark, f"file:{tmp_path}"), HadoopFS)


def test_scheme_without_session_fails_loudly():
    """The hole this module closes: an object-store path silently
    degrading to 'no state'. Without a session the shim must refuse,
    never fall back to os.* calls that see nothing."""
    with pytest.raises(ValueError, match="URI scheme"):
        state_fs(None, "s3a://bucket/state")


@pytest.mark.parametrize("scheme", ["posix", "hadoop"])
def test_fs_roundtrip(spark, tmp_path, scheme):
    root = str(tmp_path / "state") if scheme == "posix" else f"file:{tmp_path}/state"
    fs = state_fs(spark, root)
    assert not fs.exists(f"{root}/m.json")
    assert read_json(fs, f"{root}/m.json") is None
    write_json_atomic(fs, f"{root}/m.json", {"version": 1, "through_batch": 9})
    assert fs.exists(f"{root}/m.json")
    assert read_json(fs, f"{root}/m.json") == {"version": 1, "through_batch": 9}
    # overwrite publishes the new content
    write_json_atomic(fs, f"{root}/m.json", {"version": 2, "through_batch": 19})
    assert read_json(fs, f"{root}/m.json")["version"] == 2
    # no stray temp files left behind by the atomic publish
    names = fs.list_names(root)
    assert names == ["m.json"], names
    fs.delete_recursive(root)
    assert not fs.exists(root)


@pytest.mark.parametrize("scheme", ["posix", "hadoop"])
def test_batch_dirs_constructed_and_listed(spark, tmp_path, scheme):
    """With a watermark the tail dirs are constructed from the
    contiguous epoch range (no root listing); without one, a single
    listing. Both must agree, skip non-batch dirs, and tolerate gaps
    (empty batches write nothing)."""
    local_root = tmp_path / "deltas"
    for b in [0, 1, 2, 4, 5]:  # gap at 3 = an empty batch
        (local_root / f"batch_id={b}").mkdir(parents=True)
    (local_root / "_compaction").mkdir()
    (local_root / "batch_id=junk").mkdir()
    root = str(local_root) if scheme == "posix" else f"file:{local_root}"
    fs = state_fs(spark, root)

    def names(dirs):
        return [d.rsplit("/", 1)[1] for d in dirs]

    # startup (no watermark): listing path
    assert names(batch_dirs(fs, root, -1, 6)) == [
        "batch_id=0",
        "batch_id=1",
        "batch_id=2",
        "batch_id=4",
        "batch_id=5",
    ]
    # bounded window: constructed from the range, existence-checked
    assert names(batch_dirs(fs, root, 1, 6)) == [
        "batch_id=2",
        "batch_id=4",
        "batch_id=5",
    ]
    assert batch_dirs(fs, root, 4, 5) == []
    assert batch_dirs(fs, f"{root}/nope", -1, 6) == []
    # open-ended upper bound (consumers probing "everything committed"
    # pass a huge before): must fall back to listing, never enumerate
    # the range by construction
    assert names(batch_dirs(fs, root, 1, 10**9)) == [
        "batch_id=2",
        "batch_id=4",
        "batch_id=5",
    ]


def test_hadoop_batch_dirs_sees_what_posix_os_calls_miss(spark, tmp_path):
    """The r9 failure mode, inverted into a regression pin: os.listdir
    semantics over a scheme'd root return nothing (os.path.isdir is
    False for 'file:/...'), while the shim resolves the same dirs."""
    local_root = tmp_path / "d"
    (local_root / "batch_id=0").mkdir(parents=True)
    uri_root = f"file:{local_root}"
    assert not os.path.isdir(uri_root)  # the silent-degradation hazard
    fs = state_fs(spark, uri_root)
    assert [d.rsplit("/", 1)[1] for d in batch_dirs(fs, uri_root, -1, 10)] == [
        "batch_id=0"
    ]


def test_spark_reads_what_hadoop_shim_wrote(spark, tmp_path):
    """End-to-end over the JVM backend: parquet written by Spark to a
    file: URI is discoverable via the shim's enumeration and readable
    via the same explicit-dirs pattern the stream uses."""
    root = f"file:{tmp_path}/clean"
    df = spark.range(3).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
    df.write.parquet(f"{root}/batch_id=0")
    df.write.parquet(f"{root}/batch_id=1")
    fs = state_fs(spark, root)
    dirs = batch_dirs(fs, root, -1, 2)
    assert len(dirs) == 2
    got = spark.read.option("basePath", root).parquet(*dirs)
    assert got.count() == 6
    assert set(got.columns) == {"doc_id", "text", "batch_id"}


def test_hadoop_read_text_only_maps_missing_file(spark, tmp_path):
    """Only a genuine java.io.FileNotFoundException may normalize to
    FileNotFoundError (the manifest-absent contract). Any OTHER Java
    error — auth expiry, throttling, network — must propagate loudly:
    swallowed into FileNotFoundError it would read as "no manifest
    yet" and a compaction against manifest=None would rewrite v1 and
    regress the watermark."""
    from py4j.protocol import Py4JJavaError

    fs = HadoopFS(spark, f"file:{tmp_path}")

    # genuine missing file -> FileNotFoundError (both backends agree)
    with pytest.raises(FileNotFoundError):
        fs.read_text(f"file:{tmp_path}/absent.json")

    class _RaisingFS:
        def __init__(self, jexc):
            self._jexc = jexc

        def open(self, _):
            raise Py4JJavaError("java side failed", self._jexc)

    # a transient-style error (IOException) must NOT be normalized
    fs._fs = _RaisingFS(spark._jvm.java.io.IOException("throttled"))
    with pytest.raises(Py4JJavaError):
        fs.read_text(f"file:{tmp_path}/whatever.json")

    # while a java FileNotFoundException still is
    fs._fs = _RaisingFS(spark._jvm.java.io.FileNotFoundException("gone"))
    with pytest.raises(FileNotFoundError):
        fs.read_text(f"file:{tmp_path}/whatever.json")


@pytest.mark.parametrize("scheme", ["posix", "hadoop"])
def test_corrupt_manifest_raises_not_none(spark, tmp_path, scheme):
    """A PRESENT-but-corrupt manifest must propagate loudly, never read
    as 'absent': a silent None regresses the compaction watermark and,
    with pruning on, loses folded state permanently (r10 review)."""
    root = str(tmp_path / "state") if scheme == "posix" else f"file:{tmp_path}/state"
    fs = state_fs(spark, root)
    # malformed JSON published through the shim itself (an out-of-band
    # POSIX rewrite would trip the file: backend's CRC sidecar first —
    # also loud, but a different error)
    fs.write_text_atomic(f"{root}/m.json", '{"version": 3')  # truncated
    with pytest.raises(ValueError, match="corrupt state manifest"):
        read_json(fs, f"{root}/m.json")


class _FakeLostResponse(RuntimeError):
    pass


def test_publish_fallback_never_deletes_a_completed_rename(spark, tmp_path):
    """If the FileContext rename succeeded but the call errored (lost
    Py4J response), the fallback must detect tmp-gone-and-dst-present
    and treat the publish as DONE — its delete(dst) would otherwise
    destroy the manifest that was just published and then fail on the
    missing tmp: no manifest anywhere, watermark to -1 (r10 review,
    sixth pass, finding 1)."""
    root = f"file:{tmp_path}/state"
    fs = state_fs(spark, root)
    write_json_atomic(fs, f"{root}/m.json", {"version": 1})

    real_jvm = fs._jvm

    class _Jvm:
        class org:
            class apache:
                class hadoop:
                    class fs:
                        class FileContext:
                            @staticmethod
                            def getFileContext(uri, conf):
                                raise _FakeLostResponse("response lost")

                        class Options:
                            Rename = real_jvm.org.apache.hadoop.fs.Options.Rename

    # Intercept _create to capture the tmp name, then complete the
    # rename OUT OF BAND before the (failing) FileContext call — the
    # exact observable state of "rename won, error surfaced".
    orig_create = fs._create
    captured = {}

    def create_and_note(path, text):
        orig_create(path, text)
        if ".tmp-" in path:
            captured["tmp"] = path

    fs._create = create_and_note

    class _FailingFC:
        @staticmethod
        def getFileContext(uri, conf):
            # the "JVM side" completes the OVERWRITE rename (delete +
            # rename, the FileContext semantics), then the bridge dies.
            # After this, tmp is GONE and dst holds v2 — if the code
            # under test wrongly entered the delete+rename fallback it
            # would delete dst and then fail on the missing tmp
            # (OSError), so this test passing proves the
            # success-detection branch ran.
            fs._fs.delete(fs._p(f"{root}/m.json"), False)
            assert fs._fs.rename(fs._p(captured["tmp"]), fs._p(f"{root}/m.json"))
            raise _FakeLostResponse("response lost after rename")

    _Jvm.org.apache.hadoop.fs.FileContext = _FailingFC
    fs._jvm = _Jvm

    try:
        write_json_atomic(fs, f"{root}/m.json", {"version": 2})
    finally:
        fs._jvm = real_jvm
        fs._create = orig_create

    # the publish survived: new manifest in place, no stray tmp
    assert read_json(fs, f"{root}/m.json") == {"version": 2}
    assert [n for n in fs.list_names(f"{root}") if ".tmp-" in n] == []


def test_publish_fallback_reraises_noncompleted_java_failure(spark, tmp_path):
    """A FileContext failure where the rename did NOT complete and the
    scheme DOES have a binding must propagate (only a missing
    AbstractFileSystem binding legitimately falls back) — here the
    non-Java error keeps the fallback, which still publishes correctly
    because tmp survives."""
    root = f"file:{tmp_path}/state2"
    fs = state_fs(spark, root)
    write_json_atomic(fs, f"{root}/m.json", {"version": 1})

    real_jvm = fs._jvm

    class _DeadFC:
        @staticmethod
        def getFileContext(uri, conf):
            raise AttributeError("FileContext not resolvable on this classpath")

    class _Jvm:
        class org:
            class apache:
                class hadoop:
                    class fs:
                        FileContext = _DeadFC
                        Options = None  # never reached

    fs._jvm = _Jvm
    try:
        # non-Java error + tmp still present -> documented delete+rename
        # fallback runs and the publish still lands
        write_json_atomic(fs, f"{root}/m.json", {"version": 2})
    finally:
        fs._jvm = real_jvm
    assert read_json(fs, f"{root}/m.json") == {"version": 2}


# ---------------------------------------------------------------------------
# Crash pins for the StateLog protocol (module docstring rules 2-5): an
# in-process fault at each step, then a retry, must leave the state a
# reader sees equal to a run that never crashed. The wing is a toy —
# version k is one small file holding every row folded so far — so the
# pins cost no Spark job.


class _Crash(RuntimeError):
    pass


def _root(path, scheme):
    return str(path) if scheme == "posix" else f"file:{path}"


def _toy_fold(log, through, crash_at=None):
    def build(man, k, tails):
        if not tails["delta"]:
            return None
        rows = (
            log.fs.read_text(f"{log.root}/versions/v{man['version']}/rows").split()
            if man
            else []
        )
        rows += [log.fs.read_text(f"{d}/rows") for d in tails["delta"]]
        log.fs.write_text_atomic(f"{log.root}/versions/v{k}/rows", " ".join(rows))
        return {"version": k, "through_batch": through}

    if crash_at:
        publish = log.publish

        def crashing_publish(man):
            if crash_at == "publish":
                publish(man)
            raise _Crash(f"at the {crash_at} step")

        log.publish = crashing_publish
    return log.fold(through, build, ("delta",), prune=("delta",))


def _write_batches(log, batches):
    for b in batches:
        log.fs.write_text_atomic(f"{log.root}/delta/batch_id={b}/rows", f"r{b}")


def _reader_view(log):
    """What a reader anchors on: the manifest, the tail above its
    watermark, and the folded version's rows."""
    man, dirs = log.anchored_tail("delta", 10**9)
    folded = (
        log.fs.read_text(f"{log.root}/versions/v{man['version']}/rows") if man else ""
    )
    return man, [d.rsplit("/", 1)[1] for d in dirs], folded


# "write": after the version write, before the publish;
# "publish": after the publish, before the prune
@pytest.mark.parametrize("crash_at", ["write", "publish"])
@pytest.mark.parametrize("scheme", ["posix", "hadoop"])
def test_fold_crash_then_retry_equals_uncrashed_run(spark, tmp_path, scheme, crash_at):
    def run(name, crash):
        root = _root(tmp_path / name, scheme)
        log = StateLog(spark, root)
        _write_batches(log, range(4))
        _toy_fold(log, 1)
        _write_batches(log, range(4, 6))
        if crash:
            with pytest.raises(_Crash):
                _toy_fold(StateLog(spark, root), 4, crash_at)
            log = StateLog(spark, root)
            if crash_at == "write":
                # the orphan v2 is invisible: the manifest still names
                # v1 and the reader's tail still starts above batch 1
                assert log.fs.exists(f"{root}/versions/v2/rows")
                assert _reader_view(log)[:2] == (
                    {"version": 1, "through_batch": 1},
                    [f"batch_id={b}" for b in range(2, 6)],
                )
                # a torn orphan must not survive the retry
                log.fs.write_text_atomic(f"{root}/versions/v2/rows", "torn")
            else:
                # published but not pruned: the folded tail sits below
                # the watermark, where no anchored read looks
                assert log.manifest() == {"version": 2, "through_batch": 4}
                assert log.fs.is_dir(f"{root}/delta/batch_id=2")
        # the retry, as a restarted process would run it
        man, published = _toy_fold(StateLog(spark, root), 4)
        assert published == (not crash or crash_at == "write")
        return _reader_view(StateLog(spark, root))

    want = run("clean", False)
    assert want == (
        {"version": 2, "through_batch": 4},
        ["batch_id=5"],
        "r0 r1 r2 r3 r4",
    )
    assert run("crashed", True) == want


@pytest.mark.parametrize("scheme", ["posix", "hadoop"])
def test_vacuum_crash_mid_walk_never_passes_an_undeleted_version(
    spark, tmp_path, scheme
):
    def run(name, crash):
        root = _root(tmp_path / name, scheme)
        log = StateLog(spark, root)
        for j in range(1, 6):
            log.fs.write_text_atomic(f"{root}/versions/v{j}/rows", f"v{j}")
        deleted = []

        def drop(j, _wm):
            if crash and deleted:
                raise _Crash("mid-vacuum, after the first delete")
            log.fs.delete_recursive(f"{root}/versions/v{j}")
            deleted.append(j)
            return True

        def check_watermark():
            wm = read_json(log.fs, f"{root}/_compaction/vacuum.json") or {}
            through = wm.get("vacuumed_through", 0)
            assert all(
                not log.fs.exists(f"{root}/versions/v{j}") for j in range(1, through + 1)
            ), wm
            return wm

        if crash:
            with pytest.raises(_Crash):
                log.vacuum("vacuum.json", {"vacuumed_through": (3, drop)})
            assert check_watermark() == {}
            assert deleted == [1] and log.fs.exists(f"{root}/versions/v2")
            crash = False
        wm = log.vacuum("vacuum.json", {"vacuumed_through": (3, drop)})
        assert check_watermark() == wm
        return wm, sorted(log.fs.list_names(f"{root}/versions"))

    want = run("clean", False)
    assert want == ({"vacuumed_through": 3}, ["v4", "v5"])
    assert run("crashed", True) == want
