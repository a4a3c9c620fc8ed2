package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import java.nio.file.{Files, Path, Paths}

/** One change-log record: latest `rev` per `key` wins; a winning
  * tombstone (`deleted = true`) removes the key. */
case class ChangeRow(key: Long, rev: Int, payload: String, deleted: Boolean)

/** Latest-revision-wins upsert shared between batch and Structured
  * Streaming — the streaming twin of [[graft.operators.Upsert]]: a CDC
  * change stream continuously materialized into a latest-per-key view.
  *
  * Batch: one `max_by` hash aggregation (shuffle O(keys)).
  * Streaming: `mapGroupsWithState` keyed on the business key; state is
  * the current winning revision per key — i.e. exactly the
  * materialized dimension table, so state size is bounded by key
  * cardinality (RocksDB state store territory at scale), not by
  * stream length. Out-of-order older revisions are absorbed without
  * emitting. StreamUpsertSpec asserts stream/batch parity, including
  * the out-of-order case.
  */
object StreamUpsert {

  /** Batch collapse of a change log to latest-per-key (tombstones kept
    * so callers can see deletes; filter `!deleted` for the live view). */
  def batch(changes: Dataset[ChangeRow]): Dataset[ChangeRow] = {
    val df = changes.toDF()
    df.groupBy(col("key").as("_k"))
      .agg(max_by(struct(df.columns.toIndexedSeq.map(col): _*),
        col("rev")).as("_top"))
      .select(col("_top.*"))
      .as(Encoders.product[ChangeRow])
  }

  /** Update-mode streaming form: emits the key's new winning row
    * whenever a batch advances it; stale (lower-rev) arrivals leave
    * state untouched and emit nothing. */
  def streaming(changes: Dataset[ChangeRow]): Dataset[ChangeRow] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.key)
      .flatMapGroupsWithState[ChangeRow, ChangeRow](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[ChangeRow], state: GroupState[ChangeRow]) =>
          val best = (rows ++ state.getOption.iterator)
            .reduceLeft((a, b) => if (a.rev >= b.rev) a else b)
          if (state.getOption.forall(_.rev < best.rev)) {
            state.update(best)
            Iterator.single(best)
          } else Iterator.empty
      }
  }

  // ------------------------------------------------- durable merge sink

  /** The foreachBatch merge sink: called from `foreachBatch`, it folds
    * each micro-batch of the change log into a durable latest-per-key
    * parquet table at `tableDir`.
    *
    * Exactly-once EFFECT on top of foreachBatch's at-least-once
    * delivery contract comes from a transactional versioned commit, not
    * from trusting the sink write to happen once: [[mergeBatch]] writes
    * the post-merge view to `v=<batchId>` and treats a version dir that
    * already carries Spark's `_SUCCESS` marker as committed —
    *  - crash BETWEEN the sink write and the offset-log commit: the
    *    restarted query re-delivers the same batch with the SAME
    *    batchId (the documented foreachBatch retry contract), the
    *    commit check sees `v=<batchId>` committed, and the replay is a
    *    no-op;
    *  - crash DURING the sink write: no `_SUCCESS`, so the replay
    *    re-merges from the last committed version and mode=overwrite
    *    clears the partial files.
    * Readers ([[currentView]]) only ever see the highest committed
    * version, so a torn write is never observable. At cluster scale
    * this is the job a table format's MERGE INTO does (Delta/Iceberg
    * transaction log); the versioned-dir layout is the
    * dependency-free stand-in with the same commit semantics, and the
    * merge itself stays one O(keys) hash aggregation per batch.
    * StreamUpsertSpec pins replay idempotence and the
    * crash-after-sink-write restart end-to-end.
    *
    * Returns false (and does nothing) when `batchId` is already
    * committed — the replayed-batch case. Prunes committed versions
    * older than the previous one after a successful commit. */
  def mergeBatch(batch: Dataset[ChangeRow], batchId: Long,
      tableDir: String): Boolean = {
    val s = batch.sparkSession
    if (committedVersions(tableDir).contains(batchId)) false
    else {
      val merged = this.batch(currentView(s, tableDir).unionByName(batch))
      // reads max committed version (< batchId), writes v=<batchId>:
      // never the dir it is reading, so no self-overwrite hazard
      merged.coalesce(1).write.mode("overwrite")
        .parquet(s"$tableDir/v=$batchId")
      committedVersions(tableDir).sorted.dropRight(2)
        .foreach(v => deleteDir(Paths.get(tableDir, s"v=$v")))
      true
    }
  }

  /** The table as of its highest committed version (empty before the
    * first commit). */
  def currentView(s: SparkSession, tableDir: String): Dataset[ChangeRow] = {
    val vs = committedVersions(tableDir)
    if (vs.isEmpty) s.emptyDataset(Encoders.product[ChangeRow])
    else s.read.parquet(s"$tableDir/v=${vs.max}")
      .as(Encoders.product[ChangeRow])
  }

  /** Version ids under `tableDir` whose write completed (`_SUCCESS`). */
  def committedVersions(tableDir: String): Seq[Long] = {
    val root = Paths.get(tableDir)
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val ls = Files.list(root)
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala
          .filter(p => p.getFileName.toString.startsWith("v=") &&
            Files.exists(p.resolve("_SUCCESS")))
          .map(_.getFileName.toString.stripPrefix("v=").toLong)
          .toSeq
      } finally ls.close()
    }
  }

  private def deleteDir(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => { val _ = Files.deleteIfExists(f) })
      finally walk.close()
    }
}
