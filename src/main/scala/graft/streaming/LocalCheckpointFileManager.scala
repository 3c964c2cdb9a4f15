package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Spark's `FileSystem`-rename checkpoint manager, minus the temp files a
  * re-run batch leaves. A restart that re-runs batch N commits its state
  * deltas again, over files the first run committed, and allows the
  * overwrite. Hadoop's local `rename` onto an existing file returns
  * false; Spark then keeps the committed file, which holds the same
  * state, but not the source. So the temp file outlives the rename only
  * in that case, and it is deleted here with its `.crc` sidecar. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  override def renameTempFile(srcPath: Path, dstPath: Path,
      overwriteIfPossible: Boolean): Unit = {
    super.renameTempFile(srcPath, dstPath, overwriteIfPossible)
    if (overwriteIfPossible && fs.exists(srcPath)) fs.delete(srcPath, false)
  }
}
