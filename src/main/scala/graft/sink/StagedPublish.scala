package graft.sink

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one atomic publish of a whole-directory table: write the new
  * content to a stage directory, then swap it in with two renames
  * (`target` → `old`, `stage` → `target`) — on a rename-less object store,
  * a manifest pointer flip. Used by the warehouse MERGE
  * ([[graft.pipeline.SendoPipeline.mergeTable]]) and rollup compaction
  * ([[graft.streaming.StreamingRollup.compact]]). */
object StagedPublish {

  /** Crash recovery, run before `target` is read: a run that died inside
    * the two-rename window left the only copy of the table at `old`.
    * Restore it — deleting `old` instead would destroy the table. */
  def recover(fs: FileSystem, target: Path, old: Path): Unit =
    if (!fs.exists(target) && fs.exists(old) && !fs.rename(old, target))
      throw new IOException(s"could not restore $old")

  /** Run `write` (which fills `stage`), then publish `stage` as `target`.
    * A failed write removes its partial stage; the published table is
    * untouched either way. */
  def publish(fs: FileSystem, target: Path, stage: Path, old: Path)(
      write: => Unit): Unit = {
    if (fs.exists(stage)) fs.delete(stage, true)
    try write
    catch { case e: Throwable => fs.delete(stage, true); throw e }
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(target) && !fs.rename(target, old))
      throw new IOException(s"could not move $target aside")
    if (!fs.rename(stage, target))
      throw new IOException(s"could not publish $stage")
    fs.delete(old, true)
  }
}
