"""Hadoop-FileSystem helper (HDFS/S3A/local) over py4j.

The one place the package touches the JVM file system: silver's
registry generations, the streaming LSH-dedup state directory and the
persisted ANN index all publish by writing to a temporary path and
renaming it into place, so a reader sees a complete artifact or none.
The file system is resolved from the path's scheme, so every path may
live on HDFS, S3A or local disk (on object stores without atomic
rename the rename degrades to copy+delete but stays correct: an
un-renamed temporary is invisible to readers).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


class HadoopFs:
    """File-system calls on paths of ``path``'s scheme."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self._jvm = spark._jvm
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )

    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self._Path(p))

    def exists(self, p: str) -> bool:
        return self._fs.exists(self._Path(p))

    def delete(self, p: str) -> None:
        self._fs.delete(self._Path(p), True)

    def rename(self, src: str, dst: str) -> None:
        if not self._fs.rename(self._Path(src), self._Path(dst)):
            raise OSError(f"rename failed: {src} -> {dst}")

    def list_names(self, p: str) -> list[str]:
        """Sorted child names of directory ``p`` ([] when absent)."""
        path = self._Path(p)
        if not self._fs.exists(path):
            return []
        return sorted(
            s.getPath().getName() for s in self._fs.listStatus(path)
        )

    # NB: py4j passes byte[] BY VALUE — a Java-side read into a Python
    # bytearray never reaches Python. Both directions therefore go
    # through commons-io on the JVM (ships with Hadoop).

    def write_text(self, p: str, text: str) -> None:
        out = self._fs.create(self._Path(p), True)
        try:
            self._jvm.org.apache.commons.io.IOUtils.write(
                text, out, "UTF-8"
            )
        finally:
            out.close()

    def read_text(self, p: str) -> str:
        stream = self._fs.open(self._Path(p))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
