"""State files: the small JSON markers the engine persists next to its data.

Every pointer, commit marker, offset, index parameter doc, checkpoint
fingerprint, shard manifest and incremental watermark is written and read
through this one module, so each follows the same protocol:

- **Hadoop FileSystem I/O** — a path resolves like every data path the
  engine writes (URI schemes ``file://``, ``hdfs://``, ``s3a://``; a plain
  path against ``fs.defaultFS``), so a marker always lands next to the
  data it describes (:func:`_state_io`);
- **tmp+rename publish** — a crash mid-write leaves the previous doc
  intact, never a torn file (:func:`_write_state`);
- **``.bak`` recovery** — the no-overwrite rename fallback's crash window
  reads back the pre-update doc, not "absent" (:func:`_read_text`);
- **corrupt-file diagnosis** — an unparsable doc raises with recovery
  instructions instead of reading as empty (:func:`_read_state`).

Directory helpers for the same FileSystem (:func:`_children`,
:func:`_numbered`, :func:`_delete`) live here too.
"""

from __future__ import annotations

import json
import logging
import re
from collections.abc import Iterable

from pyspark.sql import SparkSession

logger = logging.getLogger(__name__)


def _session(spark: SparkSession | None, caller: str) -> SparkSession:
    """``spark``, else the active session — for the public helpers whose
    signature takes no session (watermarks, manifests, index metadata)."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(f"{caller}: no active SparkSession")
    return spark


def _state_io(spark: SparkSession, path: str):
    """(fs, hadoop Path) for a small JSON state file — through the Hadoop
    FileSystem API so URI schemes (file://, hdfs://, s3a://) work."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _children(spark: SparkSession, path: str) -> list:
    """``FileStatus`` entries directly under ``path`` (none if absent)."""
    fs, hpath = _state_io(spark, path)
    return list(fs.listStatus(hpath)) if fs.exists(hpath) else []


def _numbered(spark: SparkSession, path: str, prefix: str,
              suffix: str = "") -> dict[int, str]:
    """``{K: <path>/<prefix>K<suffix>}`` for the entries directly under
    ``path`` named that way (other names are skipped)."""
    pattern = re.compile(rf"{re.escape(prefix)}(\d+){re.escape(suffix)}")
    out = {}
    for status in _children(spark, path):
        m = pattern.fullmatch(status.getPath().getName())
        if m:
            out[int(m[1])] = f"{path.rstrip('/')}/{m[0]}"
    return out


def _delete(spark: SparkSession, paths: Iterable[str]) -> None:
    """Best-effort recursive delete: a survivor is an orphan the read
    rules already ignore, swept again by the next GC."""
    for p in paths:
        fs, hpath = _state_io(spark, p)
        try:
            fs.delete(hpath, True)
        except Exception:
            logger.warning("GC failed for %s (orphan, ignored)", p)


def _read_text(spark: SparkSession, path: str) -> str | None:
    """A state file's text, ``None`` when absent. A crash inside
    :func:`_write_state`'s no-overwrite fallback (between the
    rename-to-.bak and the rename-into-place) leaves only the backup —
    recover the pre-update text rather than report the file absent
    (which would, e.g., restart a running offset at 0)."""
    fs, hpath = _state_io(spark, path)
    if not fs.exists(hpath):
        if fs.exists(_state_io(spark, path + ".bak")[1]):
            return _read_text(spark, path + ".bak")
        return None
    stream = fs.open(hpath)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _read_state(spark: SparkSession, path: str) -> dict:
    text = _read_text(spark, path)
    if text is None:
        return {}
    try:
        return json.loads(text)
    except ValueError as exc:
        raise ValueError(
            f"corrupt streaming state file {path!r} ({exc}). Do NOT just "
            f"delete it — a missing state file silently resets the running "
            f"offset to 0 against a live checkpoint, shifting every later "
            f"shard boundary. Recover by restoring the file (a valid "
            f"'{path}.tmp' sibling from an interrupted write may hold the "
            f"intended content), or wipe the checkpoint AND the output "
            f"path together and reprocess from scratch."
        ) from exc


def _write_state(spark: SparkSession, path: str, doc: dict) -> None:
    """Write a small JSON state doc via tmp-file + rename, so a crash
    mid-write leaves the previous doc intact (never a truncated/corrupt
    target). Hadoop's local filesystem rename is an atomic POSIX rename;
    on no-overwrite filesystems (HDFS semantics) the fallback first
    renames the live doc to ``.bak`` and then renames the tmp into
    place — a crash in between leaves the backup, which
    :func:`_read_state` recovers (the conservative pre-update doc),
    never a missing file that would silently reset the offset to 0."""
    fs, hpath = _state_io(spark, path)
    tmp = _state_io(spark, path + ".tmp")[1]
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(doc).encode("utf-8")))
    finally:
        out.close()
    bak = _state_io(spark, path + ".bak")[1]
    if not fs.rename(tmp, hpath):
        fs.delete(bak, False)
        fs.rename(hpath, bak)
        if not fs.rename(tmp, hpath):
            raise IOError(f"could not publish state file {path!r}")
    # clear any backup (from this call's fallback or an older crash) so
    # a stale doc can never be resurrected after a successful publish
    fs.delete(bak, False)
