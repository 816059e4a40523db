"""The one availableNow harness (streaming_queries.drain) and the
scratch-dir lifecycle behind it."""

from __future__ import annotations

import ast
import glob
import os
import subprocess
import sys
import textwrap

from dstream_spark.streaming_queries import _scratch, _scratch_root, drain

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "dstream_spark")


def _drain_lines() -> range:
    path = os.path.join(PKG, "streaming_queries.py")
    tree = ast.parse(open(path).read())
    fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "drain")
    return range(fn.lineno, fn.end_lineno + 1)


def test_write_stream_only_in_harness_and_sink_registry():
    """Every engine streaming run starts inside drain(); the only other
    writeStream users are the Pipeline sink factories."""
    allowed = {
        os.path.join(PKG, "streaming_queries.py"): _drain_lines(),
        os.path.join(PKG, "sinks", "registry.py"): None,
    }
    offenders = []
    for path in glob.glob(f"{PKG}/**/*.py", recursive=True):
        for i, line in enumerate(open(path), 1):
            if "writeStream" not in line:
                continue
            if path in allowed and (allowed[path] is None or i in allowed[path]):
                continue
            offenders.append(f"{os.path.relpath(path, REPO)}:{i}")
    assert not offenders, offenders


def test_scratch_dirs_removed_at_interpreter_exit():
    """_scratch dirs live under one per-process root that an atexit
    hook removes; a forked child exiting normally must not remove it."""
    script = textwrap.dedent(
        """
        import os, sys
        from dstream_spark.streaming_queries import _scratch
        d = _scratch("exit_probe")
        open(os.path.join(d, "f"), "w").close()
        pid = os.fork()
        if pid == 0:
            sys.exit(0)  # runs the inherited atexit hooks
        os.waitpid(pid, 0)
        print(d)
        print(os.path.isdir(d))
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout.split()
    d, alive_after_child = out[0], out[1]
    assert alive_after_child == "True"
    assert not os.path.exists(d)
    assert not os.path.exists(os.path.dirname(d))


def test_drain_memory_and_foreach_batch(spark):
    feed = _scratch("drain_feed")
    assert os.path.dirname(feed) == _scratch_root()
    for b in range(3):
        spark.range(b * 10, b * 10 + 10).coalesce(1).write.parquet(os.path.join(feed, f"b{b}"))
    src = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(feed)
    )

    out = drain(src)
    assert sorted(r.id for r in out.collect()) == list(range(30))

    seen: list[tuple[int, int]] = []
    assert drain(src, sink=lambda df, batch_id: seen.append((batch_id, df.count()))) is None
    assert sorted(seen) == [(0, 10), (1, 10), (2, 10)]
