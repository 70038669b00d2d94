package graft.core

import org.apache.spark.sql.SparkSession

/** The rename swap both indexes compact through, and its guard
  * (`<dir>` live, `<dir>__compact` the rewrite, `<dir>__old` the
  * displaced original). A crash can interrupt the swap in two
  * distinguishable states, and an UNGUARDED write into `<dir>`
  * afterwards is how data dies silently: an at-least-once streaming
  * replay re-appends its batch into the missing live dir, the next
  * compaction then reads ONLY that batch and deletes both
  * recoverable copies — the whole index truncated to one batch with
  * no error. Every append and compaction calls [[guard]] first.
  */
object Swaps {

  /** Resolve or refuse the leftover states of an interrupted swap at
    * `dir`:
    *
    *  - `__old` and `__compact` both present: the crash hit BETWEEN
    *    the two renames — the live dir is missing (or worse, already
    *    recreated by a replayed append and holding only that batch).
    *    Refuse loudly with the recovery recipe; both full copies are
    *    still on disk.
    *  - `__old` present, `__compact` absent: the swap completed and
    *    only the trailing cleanup was lost — finish it (delete
    *    `__old`) and proceed.
    *  - `__old` absent: nothing to do.
    */
  def guard(spark: SparkSession, dir: String, op: String): Unit = {
    val old = new org.apache.hadoop.fs.Path(s"${dir}__old")
    val fs = old.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(old)) {
      val tmp = new org.apache.hadoop.fs.Path(s"${dir}__compact")
      require(!fs.exists(tmp),
        s"$op: an interrupted compaction left $dir mid-swap " +
          s"(${dir}__old and ${dir}__compact both exist; the live dir " +
          "content, if any, may be a replayed batch, NOT the index). " +
          s"Recover manually before writing: ${dir}__old holds the " +
          s"full pre-compaction data and ${dir}__compact the rewrite " +
          s"— restore one to $dir and delete the other two suffixed " +
          "dirs.")
      // swap completed; only the post-swap cleanup was lost
      fs.delete(old, true)
    }
  }

  /** Swap the rewrite at `<dir>__compact` in for `dir`: move the live
    * dir to `__old`, move the rewrite to `dir`, then delete `__old`.
    * Until that last delete a crash leaves the data recoverable under
    * one of the three names, in one of the two states [[guard]] tells
    * apart.
    */
  def swap(spark: SparkSession, dir: String, op: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(dir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(s"${dir}__old")
    val tmp = new org.apache.hadoop.fs.Path(s"${dir}__compact")
    fs.delete(old, true)
    require(fs.rename(live, old), s"$op: cannot move $live")
    require(fs.rename(tmp, live), s"$op: cannot move $tmp")
    fs.delete(old, true)
  }
}
