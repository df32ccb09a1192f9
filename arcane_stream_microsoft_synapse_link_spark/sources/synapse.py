"""Synapse Link export source: changelog pointer + batch-folder discovery.

Source layout (reference ``Fixtures.scala:27-73``, FIXTURES.md §1.1):

    <root>/
      model.json                     # CDM model at container root
      Changelog/changelog.info       # text: name of newest COMPLETE folder
      <yyyy-MM-dd'T'HH.mm.ss'Z'>/    # one folder per change batch
        model.json                   # schema snapshot for this batch
        <entity>/<chunk>.csv         # headerless quoted CSV chunks

Operators A1/A2/B5 (SURVEY.md §2.A-B): the changelog pointer is the stream
frontier (``latestOffset``); pending work is the folder-name range
``(watermark, changelog]`` — folder names are zero-padded UTC timestamps so
plain string comparison is the version order.

Folder listing is driver-side metadata I/O (exactly like a streaming
source's offset planning); the data I/O (CSV reads) is distributed. On
Azure this same class runs against ``abfss://`` through the Hadoop
filesystem — paths stay opaque strings to the rest of the engine.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .cdm import CdmEntity, parse_model, paths_are_line_splittable, read_entity_csv

FOLDER_RE = re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}\.\d{2}\.\d{2}Z$")
_SCHEME_RE = re.compile(r"^[a-z][a-z0-9+.\-]*://", re.IGNORECASE)


@dataclass(frozen=True)
class BatchFolder:
    name: str  # the version/offset — sortable timestamp string
    path: str


class _LocalIO:
    """Driver-side metadata I/O on a plain local path."""

    def read_text(self, path: str) -> str | None:
        try:
            with open(path) as fh:
                return fh.read()
        except FileNotFoundError:
            return None

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path) if os.path.isdir(path) else []

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)


class _HadoopIO:
    """Driver-side metadata I/O through the Hadoop FileSystem API (A5).

    This is the SAME interface the ABFS/S3A/GCS connectors implement, so a
    source root like ``abfss://container@account.dfs.core.windows.net/sl``
    lists folders, reads ``changelog.info``, and fetches ``model.json``
    through the authenticated connector (``apply_azure_conf`` maps the
    reference's storageConnection block onto its ``fs.azure.*`` keys,
    crd-microsoft-synapse.yaml:499-539). Locally the identical code path is
    exercised with ``file://`` roots (tests/test_lifecycle.py) — the only
    untested part in this jar-less sandbox is the ABFS jar itself."""

    def __init__(self):
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                "a scheme'd source root needs an active SparkSession "
                "(Hadoop FileSystem access goes through the JVM)"
            )
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._conf = sc._jsc.hadoopConfiguration()

    def _jpath(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def _fs(self, jpath):
        return jpath.getFileSystem(self._conf)

    def read_text(self, path: str) -> str | None:
        jp = self._jpath(path)
        fs = self._fs(jp)
        if not fs.exists(jp):
            return None
        stream = fs.open(jp)
        try:
            baos = self._jvm.java.io.ByteArrayOutputStream()
            self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 65536, False)
            return bytes(baos.toByteArray()).decode("utf-8")
        finally:
            stream.close()

    def listdir(self, path: str) -> list[str]:
        jp = self._jpath(path)
        fs = self._fs(jp)
        if not fs.exists(jp):
            return []
        return [s.getPath().getName() for s in fs.listStatus(jp)]

    def isdir(self, path: str) -> bool:
        jp = self._jpath(path)
        fs = self._fs(jp)
        return fs.exists(jp) and fs.getFileStatus(jp).isDirectory()

    def exists(self, path: str) -> bool:
        jp = self._jpath(path)
        return self._fs(jp).exists(jp)


class SynapseLinkSource:
    def __init__(self, root: str, entity_name: str, io=None):
        """``io`` injects a metadata-I/O implementation (e.g.
        ``objectstore.S3StoreIO`` against an S3-compatible endpoint when no
        ``s3a`` jar is on the classpath); default resolution stays
        scheme-based: Hadoop FileSystem for scheme'd roots, local otherwise.
        """
        self.root = root
        self.entity_name = entity_name
        self._io_impl = io

    def _io(self):
        # lazy: a Hadoop-FS root resolves its FileSystem on first use so the
        # source can be constructed before the SparkSession exists
        if self._io_impl is None:
            self._io_impl = _HadoopIO() if _SCHEME_RE.match(self.root) else _LocalIO()
        return self._io_impl

    def _data_paths(self, paths: list[str]) -> list[str]:
        """Paths Spark executors can read.  A Hadoop-FS root returns its
        own paths (executors read through the connector); an IO with a
        ``localize`` hook (jar-less object-store fallback) spools chunks
        and returns local paths — see objectstore.py's data-plane note."""
        io = self._io()
        if paths and hasattr(io, "localize"):
            return io.localize(paths)
        return paths

    # ---- offsets (A1) ----------------------------------------------------
    def changelog_head(self) -> str | None:
        """Read Changelog/changelog.info → newest complete batch folder."""
        info = os.path.join(self.root, "Changelog", "changelog.info")
        txt = self._io().read_text(info)
        if txt is None:
            return None
        return txt.strip() or None

    # ---- folder planning (A2 + B5) ----------------------------------------
    def list_folders(
        self, after: str | None = None, up_to: str | None = None
    ) -> list[BatchFolder]:
        """Batch folders with names in ``(after, up_to]``, version order."""
        out = []
        for name in sorted(self._io().listdir(self.root)):
            if not FOLDER_RE.match(name):
                continue
            if after is not None and name <= after:
                continue
            if up_to is not None and name > up_to:
                continue
            out.append(self.folder(name))
        return out

    def folder(self, name: str) -> BatchFolder:
        """The batch folder called ``name`` (a stream offset)."""
        return BatchFolder(name=name, path=os.path.join(self.root, name))

    def pending(self, watermark: str | None) -> list[BatchFolder]:
        """Folders after the stored watermark up to the changelog frontier."""
        head = self.changelog_head()
        if head is None:
            return []
        return self.list_folders(after=watermark, up_to=head)

    # ---- schema (A4) -------------------------------------------------------
    def entity_schema(self, folder: BatchFolder | None = None) -> CdmEntity:
        """Entity schema from the batch's model.json (per-batch schema —
        one folder has exactly one schema, watch-list item 3), falling back
        to the container-root model.json."""
        candidates = []
        if folder is not None:
            candidates.append(os.path.join(folder.path, "model.json"))
        candidates.append(os.path.join(self.root, "model.json"))
        for path in candidates:
            txt = self._io().read_text(path)
            if txt is not None:
                model = parse_model(txt)
                if self.entity_name in model:
                    return model[self.entity_name]
        raise FileNotFoundError(f"no model.json declares entity {self.entity_name!r}")

    # ---- data (A3/B21) -----------------------------------------------------
    def batch_csvs(self, folder: BatchFolder) -> list[str]:
        """CSV chunk paths of one batch folder (empty if none)."""
        entity_dir = os.path.join(folder.path, self.entity_name)
        return [
            os.path.join(entity_dir, f)
            for f in sorted(self._io().listdir(entity_dir))
            if f.endswith(".csv")
        ]

    def read_folders(self, spark: SparkSession, folders: list[BatchFolder]) -> DataFrame | None:
        """Union of several batch folders (backfill scan B13).

        Each folder may carry its own schema (per-batch model.json), but in
        the common no-evolution case every pending folder shares one —
        consecutive same-schema folders are parsed as ONE read (one plan,
        one scan; a 3-folder tick plans ~3x faster and unions nothing)
        while schema changes still split the range folder-accurately. The
        line-splittability quote-parity probe — schema-independent and
        potentially an eager Spark job — likewise runs ONCE over every CSV
        in the range, not once per folder."""
        with_csvs = [
            (f, csvs)
            for f in folders
            if (csvs := self._data_paths(self.batch_csvs(f)))
        ]
        if not with_csvs:
            return None
        splittable = paths_are_line_splittable(
            spark, [p for _, csvs in with_csvs for p in csvs]
        )
        # consecutive same-schema runs → one read each
        runs: list[tuple[CdmEntity, list[str]]] = []
        for f, csvs in with_csvs:
            schema = self.entity_schema(f)
            if runs and runs[-1][0] == schema:
                runs[-1][1].extend(csvs)
            else:
                runs.append((schema, list(csvs)))
        dfs = [
            read_entity_csv(spark, csvs, schema, line_splittable=splittable)
            for schema, csvs in runs
        ]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out
