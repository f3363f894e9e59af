"""The worker daemon's zip hook: ``importlib.invalidate_caches()`` — which
PySpark's worker calls before every task — re-reads a zip archive's
directory only when the archive changed on disk. Run in a child process
so the class-level patch never touches the test session's importers."""

from __future__ import annotations

import pathlib
import subprocess
import sys
import textwrap

REPO = pathlib.Path(__file__).resolve().parent.parent

CHILD = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport

    archive = sys.argv[1]

    def write(mods):
        tmp = archive + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for name in mods:
                z.writestr(name + ".py", f"VALUE = {name!r}\\n")
        os.replace(tmp, archive)  # a new file: new inode and stamp

    write(["zmod_a"])
    sys.path.insert(0, archive)
    import zmod_a
    assert zmod_a.VALUE == "zmod_a"

    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    zipimport._read_directory = counting

    # stock behaviour: every invalidate_caches() re-parses the archive
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 2, reads

    from clickhouse_build_spark.pydaemon import install_zip_stat_hook

    install_zip_stat_hook()
    install_zip_stat_hook()  # idempotent: no hook-on-hook
    importlib.invalidate_caches()  # seeds the stamp: one read
    assert len(reads) == 3, reads
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) == 3, reads  # unchanged archive: skipped

    write(["zmod_a", "zmod_b"])
    importlib.invalidate_caches()
    assert len(reads) == 4, reads  # rewritten archive: re-read
    import zmod_b
    assert zmod_b.VALUE == "zmod_b"
    importlib.invalidate_caches()
    assert len(reads) == 4, reads
    print("ok")
    """
)


def test_zip_hook_skips_unchanged_and_rereads_rewritten_archive(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", CHILD, str(tmp_path / "lib.zip")],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().endswith("ok")
