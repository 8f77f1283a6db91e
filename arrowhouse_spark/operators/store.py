"""The on-disk protocol shared by every persistent store in the engine.

The stores: IVF postings (operators/similarity.py), the components label
store and its ``__bycomp`` twin (operators/components.py), the LSH/dHash
band, fingerprint and SCD2 stores (streaming/replace.py, operators/dedup.py)
and the training-shard export (sources/shards.py). All of them go through
the Hadoop FileSystem API, never ``os.path``: a local-path check sees
nothing on HDFS/S3A, so a guard written that way would silently never fire
exactly where it matters.

Layout. A store is a parquet directory partitioned by one column
(``part_col=value/`` directories). A store that is rebuilt whole (the IVF
refit and atomic upsert) is also versioned: ``v{n}/`` layout directories
beside a one-line JSON ``META`` pointer naming the live one. A store with
no ``META`` is in its root layout (version 0) when it holds entries of its
own, else in its highest ``v{n}``.

Missing means empty. A path that does not exist, or that holds no data
file a schema can be inferred from (a crashed first write leaves only
``_temporary``), reads as an empty store: :func:`read_store` returns None.
Any other read failure (corrupt footer, permissions) raises, so a broken
history is never taken for an empty one.

Touched-partition rewrite (:func:`rewrite_partitions`). A mutation
rewrites only the partitions it touches, by dynamic partition overwrite,
one task and so one file per partition. Rows computed from the files the
overwrite replaces are pinned before the write. Dynamic overwrite leaves
alone a partition it gets no rows for, so a touched partition left empty
is deleted directly; a store left with no partition at all is removed,
because an empty directory would be unreadable while a missing one is an
empty store. Compaction (:func:`compact_partitions`) is the same rewrite
over every partition.

Versions (:func:`begin_version`, :func:`commit_version`). A rebuild stages
``v{n+1}`` while ``v{n}`` keeps serving, then flips ``META`` once:

- begin: a ``v{n}`` store (n >= 1) with no ``META`` gets its pointer back
  first, since a reader would otherwise resolve the half-built ``v{n+1}``
  as the highest directory; a ``v{n+1}`` left by a crashed attempt is
  removed.
- commit: every layout other than ``v{n}`` and ``v{n+1}`` is removed
  before the flip, because a leaked root layout would win the no-``META``
  resolution and resurrect old rows. The flip writes ``META.tmp`` and
  renames it over ``META`` with FileContext's OVERWRITE rename (atomic on
  HDFS and local disk); where FileContext is missing it deletes ``META``
  and renames. ``v{n}`` is removed after the flip.
- recovery: a crash before the flip leaves ``v{n}`` live and garbage for
  the next begin; a crash after it leaves only garbage. A crash inside the
  fallback flip leaves no ``META``; the highest ``v{n}`` then serves, and
  it is complete, because a version is fully built before any flip.

Single writer. Every mutation assumes it is the store's only writer: run
it with ingest stopped. Readers see a versioned rebuild only at its flip;
a touched-partition rewrite is not atomic to them.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop FS API."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    try:
        # local file:// is a ChecksumFileSystem whose .crc sidecars go
        # stale if anything else (legacy code, an operator, a human)
        # touches the file with plain open() — use the raw FS for these
        # metadata files, matching plain-file behavior; HDFS/S3A have no
        # getRawFileSystem and keep their native integrity checks
        fs = fs.getRawFileSystem()
    except Exception:  # noqa: BLE001 — not a ChecksumFileSystem
        pass
    return fs, p


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = hadoop_fs(spark, path)
    return bool(fs.exists(p))


def remove(spark: SparkSession, path: str) -> None:
    """Delete ``path`` (recursively) if it exists."""
    fs, p = hadoop_fs(spark, path)
    if fs.exists(p):
        fs.delete(p, True)


def read_small(spark: SparkSession, path: str) -> bytes | None:
    """Read a small (metadata-sized) file; None if absent. The payload
    crosses py4j ONCE (a byte[] returned from a Java method is converted
    to Python bytes by py4j), not once per byte — this sits on the pareto
    ledger's per-micro-batch hot path (streaming/replace.py)."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return None
    jvm = spark.sparkContext._jvm
    stream = fs.open(p)
    try:
        try:
            # commons-io ships on every Hadoop classpath; toByteArray
            # returns byte[] → one py4j call for the whole payload
            return bytes(
                jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        except Exception:  # noqa: BLE001 — exotic classpath: 3-call path
            n = int(fs.getFileStatus(p).getLen())
            arr = spark.sparkContext._gateway.new_array(jvm.byte, n)
            stream.readFully(0, arr)  # position-form: start-independent
            # Arrays.copyOf RETURNS byte[] → py4j converts it to bytes
            return bytes(jvm.java.util.Arrays.copyOf(arr, n))
    finally:
        stream.close()


def write_small(spark: SparkSession, path: str, payload: bytes) -> None:
    fs, p = hadoop_fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(payload))
    finally:
        out.close()


def is_missing_store_error(exc: Exception) -> bool:
    """True when ``exc`` is Spark's missing-path / empty-layout read
    failure — in EITHER vocabulary: Spark 3.4+ raises error classes
    (``PATH_NOT_FOUND`` / ``UNABLE_TO_INFER_SCHEMA``), older builds raise
    plain AnalysisException messages (``Path does not exist`` / ``Unable
    to infer schema``)."""
    msg = str(exc)
    return (
        "PATH_NOT_FOUND" in msg
        or "UNABLE_TO_INFER_SCHEMA" in msg
        or "Path does not exist" in msg
        or "Unable to infer schema" in msg
    )


def read_store(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet store at ``path``, or None when it is missing or holds
    no readable data file. The existence check comes first so a missing
    store costs no job and logs no FileStreamSink stack trace."""
    if not exists(spark, path):
        return None
    try:
        df = spark.read.parquet(path)
        df.schema  # force analysis so inference failures surface HERE
        return df
    except Exception as exc:  # noqa: BLE001 — classify, re-raise the rest
        if is_missing_store_error(exc):
            return None
        raise


def normalize_ids(spark: SparkSession, ids, id_col: str) -> DataFrame:
    """``ids`` (sequence or DataFrame carrying ``id_col``) → distinct
    one-column relation named ``id_col``, pinned by its first action."""
    if not isinstance(ids, DataFrame):
        from arrowhouse_spark.sources.memory import one_block

        ids = one_block(spark, [(int(i),) for i in ids], f"{id_col} long")
    return ids.select(id_col).distinct().localCheckpoint(eager=False)


def _reads_path(spark: SparkSession, df: DataFrame, path: str) -> bool:
    fs, p = hadoop_fs(spark, path)
    root = fs.makeQualified(p).toUri().toString().rstrip("/") + "/"
    return any(f.startswith(root) for f in df.inputFiles())


def rewrite_partitions(
    spark: SparkSession,
    path: str,
    rows: DataFrame,
    part_col: str,
    touched,
    kept=None,
    sort_col: str | None = None,
) -> bool:
    """Replace the partitions of the store at ``path`` that ``rows``
    covers with ``rows``. Of the ``touched`` partition values, each one
    outside ``kept`` (the values ``rows`` holds; collected when not given)
    is deleted, and a store left with no partition is removed. ``rows``
    reading ``path`` itself are pinned before the overwrite. ``sort_col``
    sorts each partition's file. Returns True when the store was removed."""
    if _reads_path(spark, rows, path):
        rows = rows.localCheckpoint()
    out = rows.repartition(part_col)
    if sort_col is not None:
        out = out.sortWithinPartitions(sort_col)
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(path)
    )
    if kept is None and touched:
        kept = {r[0] for r in rows.select(part_col).distinct().collect()}
    drained = [v for v in touched if v not in kept]
    if not drained:
        return False
    for v in drained:
        remove(spark, f"{path}/{part_col}={v}")
    fs, p = hadoop_fs(spark, path)
    if fs.exists(p) and not any(
        st.getPath().getName().startswith(f"{part_col}=")
        for st in fs.listStatus(p)
    ):
        fs.delete(p, True)
        return True
    return False


def _data_files(spark: SparkSession, path: str, part_col: str) -> int:
    """Data files under the store's partition directories (hidden and
    ``_``-prefixed names, which readers skip, excluded)."""
    fs, files = hadoop_fs(spark, f"{path}/{part_col}=*/[^._]*")
    hits = fs.globStatus(files)
    return 0 if hits is None else len(hits)


def compact_partitions(
    spark: SparkSession, path: str, part_col: str
) -> tuple[int, int, int]:
    """Rewrite every partition of the store at ``path`` as one file, rows
    unchanged: touched-partition writes leave a long-lived store with many
    small files whose open/footer cost comes to dominate pruned reads.
    Returns (rows, files_before, files_after); a missing store is (0, 0, 0)."""
    df = read_store(spark, path)
    if df is None:
        return 0, 0, 0
    files_before = _data_files(spark, path, part_col)
    rows = df.count()
    rewrite_partitions(spark, path, df, part_col, touched=())
    return rows, files_before, _data_files(spark, path, part_col)


def partitioned_store_retract(
    spark: SparkSession,
    store_path: str,
    ids,
    id_col: str,
    part_col: str,
    sort_col: str | None = None,
) -> int:
    """Remove every row whose ``id_col`` is in ``ids`` from the store at
    ``store_path``. Locates the rows with one semi-join grouped by
    ``part_col``, then rewrites only those partitions. The id set rides
    the count-gated broadcast (operators/idgate.py). A missing store or
    unknown ids remove nothing, so a retry is a no-op. Returns the number
    of rows removed."""
    from arrowhouse_spark.operators.idgate import gate_broadcast

    store = read_store(spark, store_path)
    if store is None:
        return 0
    ids_j = gate_broadcast(normalize_ids(spark, ids, id_col))
    hit = (
        store.join(ids_j, id_col, "semi")
        .groupBy(part_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    if not hit:
        return 0
    touched = [r[part_col] for r in hit]
    rows = store.filter(F.col(part_col).isin(touched)).join(
        ids_j, id_col, "left_anti"
    )
    rewrite_partitions(
        spark, store_path, rows, part_col, touched, sort_col=sort_col
    )
    return int(sum(r["__n"] for r in hit))


# ---------------------------------------------------------------------------
# versioned layouts
# ---------------------------------------------------------------------------


def _layouts(spark: SparkSession, store_path: str) -> tuple[list[int], bool]:
    """(versions of the ``v{n}`` directories, whether a root layout exists)."""
    fs, sp = hadoop_fs(spark, store_path)
    versions, root = [], False
    if fs.exists(sp):
        for st in fs.listStatus(sp):
            nm = st.getPath().getName()
            if nm.startswith("v") and nm[1:].isdigit():
                versions.append(int(nm[1:]))
            elif not nm.startswith(("META", ".", "_")):
                root = True
    return versions, root


def _sweep_layouts(spark: SparkSession, store_path: str, keep) -> None:
    """Remove every layout of the store except the versions in ``keep``
    (0 = the root layout)."""
    fs, sp = hadoop_fs(spark, store_path)
    if not fs.exists(sp):
        return
    for st in fs.listStatus(sp):
        nm = st.getPath().getName()
        if nm.startswith(("META", ".", "_")):
            continue
        v = int(nm[1:]) if nm.startswith("v") and nm[1:].isdigit() else 0
        if v not in keep:
            fs.delete(st.getPath(), True)


def _resolve(spark: SparkSession, store_path: str) -> tuple[str, bool]:
    """(live layout root, whether ``META`` exists)."""
    raw = read_small(spark, store_path + "/META")
    if raw is not None:
        v = int(json.loads(raw.decode("utf-8"))["version"])
        return f"{store_path}/v{v}", True
    versions, root = _layouts(spark, store_path)
    if root or not versions:
        return store_path, False
    return f"{store_path}/v{max(versions)}", False


def store_base(spark: SparkSession, store_path: str) -> str:
    """Root of the live layout of a (possibly versioned) store."""
    return _resolve(spark, store_path)[0]


def _version_of(store_path: str, base: str) -> int:
    return 0 if base == store_path else int(base.rsplit("/v", 1)[1])


def store_version(spark: SparkSession, store_path: str) -> int:
    """Live version number: 0 = the root layout."""
    return _version_of(store_path, store_base(spark, store_path))


def reset_versions(spark: SparkSession, store_path: str) -> None:
    """Drop ``META`` and every ``v{n}`` layout: the store restarts at its
    root layout (generation zero)."""
    remove(spark, store_path + "/META")
    _sweep_layouts(spark, store_path, keep=(0,))


def _write_meta_pointer(
    spark: SparkSession, store_path: str, version: int
) -> None:
    """Atomically (re)write the ``store_path/META`` version pointer to
    ``version``: write META.tmp, then FileContext rename-with-OVERWRITE.
    The Java signature is varargs (Options.Rename...), which py4j accepts
    only as an explicit Java ARRAY of the component type — passing the
    bare enum raises a method-not-found Py4JError that would silently
    route every flip to the non-atomic fallback."""
    payload = json.dumps({"version": int(version)}).encode("utf-8")
    fs, tmp = hadoop_fs(spark, store_path + "/META.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(payload))
    finally:
        out.close()
    _fs2, meta = hadoop_fs(spark, store_path + "/META")

    def _fallback_rename() -> None:
        if fs.exists(meta):
            fs.delete(meta, False)
        if not fs.rename(tmp, meta):
            raise OSError(f"META pointer rename failed for {store_path!r}")

    try:
        jvm = spark.sparkContext._jvm
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            spark.sparkContext._jsc.hadoopConfiguration()
        )
        ren_cls = jvm.org.apache.hadoop.fs.Options.Rename
        opts = spark.sparkContext._gateway.new_array(ren_cls, 1)
        opts[0] = ren_cls.OVERWRITE
        fc.rename(tmp, meta, opts)
    except (TypeError, AttributeError):
        # FileContext absent from the classpath (py4j JavaPackage is
        # not callable) — capability miss, take the fallback
        _fallback_rename()
    except Exception as exc:
        # only a CAPABILITY error may downgrade to the non-atomic
        # path; a real IO/permission failure from a supporting FS must
        # surface, not silently reopen the no-META window
        je = getattr(exc, "java_exception", None)
        cls = je.getClass().getName() if je is not None else ""
        if "UnsupportedFileSystem" in cls or "NoClassDefFound" in cls:
            _fallback_rename()
        else:
            raise


def begin_version(
    spark: SparkSession, store_path: str
) -> tuple[str, str, int]:
    """Start a rebuild: returns (live layout root, root to stage the next
    version under, live version). Repairs a missing ``META`` and removes a
    stale staged layout first."""
    base, has_meta = _resolve(spark, store_path)
    version = _version_of(store_path, base)
    if version >= 1 and not has_meta:
        _write_meta_pointer(spark, store_path, version)
    staged = f"{store_path}/v{version + 1}"
    remove(spark, staged)
    return base, staged, version


def commit_version(spark: SparkSession, store_path: str, version: int) -> None:
    """Make the layout staged by :func:`begin_version` live: the store's
    one commit point."""
    _sweep_layouts(spark, store_path, keep=(version, version + 1))
    _write_meta_pointer(spark, store_path, version + 1)
    _sweep_layouts(spark, store_path, keep=(version + 1,))
