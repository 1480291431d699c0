package org.apache.hadoop.fs.local

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import perfbench.CountingFileSystem

/** The local `AbstractFileSystem` behind `FileContext` (graft's renames
  * with overwrite go through it), with its renames counted like those of
  * [[perfbench.CountingFileSystem]]. Installed via
  * `spark.hadoop.fs.AbstractFileSystem.file.impl` in traced runs only. It
  * lives in Hadoop's package because `LocalFs`'s constructor is
  * package-private. */
class PerfbenchLocalFs(uri: URI, conf: Configuration) extends LocalFs(uri, conf) {
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit =
    CountingFileSystem.counted("rename", dst)(super.renameInternal(src, dst, overwrite))
  override def renameInternal(src: Path, dst: Path): Unit =
    CountingFileSystem.counted("rename", dst)(super.renameInternal(src, dst))
}
