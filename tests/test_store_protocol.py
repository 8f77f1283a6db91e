"""Every persistent store reaches its files through the Hadoop FileSystem
API (operators/store.py). A local-filesystem call in store code sees
nothing on HDFS, S3A or a ``file://`` URI: it counts no files, copies
nothing and fails to rename. This scans the store packages for the calls
that did exactly that."""

from __future__ import annotations

import pathlib
import re

import arrowhouse_spark

LOCAL_FS_CALLS = re.compile(
    r"\b(os\.rename|shutil\.rmtree|shutil\.copytree|glob\.glob)\s*\("
)


def test_store_code_uses_only_the_hadoop_fs_api():
    root = pathlib.Path(arrowhouse_spark.__file__).parent
    hits = [
        f"{path.relative_to(root.parent)}:{n}: {line.strip()}"
        for pkg in ("operators", "streaming")
        for path in sorted((root / pkg).rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if LOCAL_FS_CALLS.search(line)
    ]
    assert hits == []
