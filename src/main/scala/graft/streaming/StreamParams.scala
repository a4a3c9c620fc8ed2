package graft.streaming

import graft.DurableArtifact
import graft.operators.Dedup

import java.nio.file.{Files, Paths, StandardCopyOption}

/** PARAMETER PROVENANCE for stream dirs — the stream-side half of the
  * [[graft.DurableArtifact.ParamsProp]] contract.
  *
  * Every streaming layout's layers compose only under ONE
  * parameterization: an index delta shingled at n=4 matches no n=3
  * probe (every near-dup silently missed, no error), a verdict batch
  * admitted under a different threshold poisons the exactly-once
  * union, an embedding bucket hashed with different hyperplanes never
  * meets its candidates. Before this marker the contract was
  * documentation-only ("the caller must hand frames derived with the
  * SAME parameters") — the one remaining silent-wrong-answer class in
  * the durable/streaming layer.
  *
  * The first committing entry point (trigger 0 or the bootstrap seed)
  * records its parameters in `<baseDir>/_params` — written atomically
  * (temp + move) so a torn write is never parseable — and EVERY later
  * entry point (each trigger, each maintenance pass that takes a
  * parameter, each seed) verifies its own parameters against the
  * recorded ones and throws on mismatch. A dir with committed history
  * but no marker refuses new triggers: the engine never guesses a
  * dir's parameterization. */
private[graft] object StreamParams {

  private val MarkerFile = "_params"

  /** ST8/ST10 (near-dup + cluster maintenance) parameters. */
  def neardup(n: Int, thresholdPpm: Long, dfCap: Dedup.DfCap):
      Map[String, String] =
    Map("kind" -> "neardup", "n" -> n.toString,
      "thresholdPpm" -> thresholdPpm.toString, "dfCap" -> dfCap.toString)

  /** ST9 (streaming curation) parameters. */
  def admission(n: Int, thresholdPpm: Long, dfCap: Dedup.DfCap):
      Map[String, String] =
    Map("kind" -> "admission", "n" -> n.toString,
      "thresholdPpm" -> thresholdPpm.toString, "dfCap" -> dfCap.toString)

  /** ST12 (streaming embedding near-dup) parameters. The cosine gate
    * is recorded in ppm — the integer form, like every other gate.
    * multiProbe is part of the parameterization (StreamEmbed always
    * probes at radius 1): recording it lets the seed-time table check
    * refuse a bucket artifact built WITHOUT probing, whose candidate
    * join would silently lose every one-bit-off pair. */
  def embed(dim: Int, nPlanes: Int, cosThresholdPpm: Long):
      Map[String, String] =
    Map("kind" -> "embed", "dim" -> dim.toString,
      "nPlanes" -> nPlanes.toString,
      "cosThresholdPpm" -> cosThresholdPpm.toString,
      "multiProbe" -> "true")

  /** The parameters recorded on `baseDir`, if any. */
  def recorded(baseDir: String): Option[Map[String, String]] = {
    val p = Paths.get(baseDir, MarkerFile)
    if (!Files.exists(p)) None
    else Some(DurableArtifact.parseParams(
      new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).trim))
  }

  /** Trigger/seed entry gate: verify `params` against the dir's
    * recorded marker, or establish it when this is the first entry.
    *
    *  - marker present and equal → proceed;
    *  - marker present and DIFFERENT → throw (the n=4-into-n=3 class);
    *  - no marker, no committed history → record `params` (trigger 0 /
    *    the seed defines the dir's parameterization; a marker from a
    *    crashed never-committed attempt is simply overwritten);
    *  - no marker but committed history → throw (nothing records what
    *    the history was built with; start a fresh dir). */
  def establish(baseDir: String, params: Map[String, String]): Unit =
    recorded(baseDir) match {
      case Some(r) if r == params => ()
      case Some(r) =>
        val committed = StreamIndex.committedBatches(s"$baseDir/corpus")
        if (committed.nonEmpty)
          throw new IllegalArgumentException(
            s"stream params mismatch on $baseDir: the dir records " +
              s"'${DurableArtifact.canonParams(r)}' but this call runs " +
              s"'${DurableArtifact.canonParams(params)}' — layers built " +
              "under different parameters do not compose (an n=4 delta " +
              "matches no n=3 probe: verdicts would be silently wrong). " +
              "Run with the recorded parameters, or start a fresh dir")
        else write(baseDir, params) // nothing committed: redefine freely
      case None =>
        val committed = StreamIndex.committedBatches(s"$baseDir/corpus")
        if (committed.nonEmpty)
          throw new IllegalArgumentException(
            s"$baseDir has committed stream history but no _params " +
              "marker, so nothing records the parameters its layers " +
              s"were built with; this call runs " +
              s"'${DurableArtifact.canonParams(params)}' and the engine " +
              "never guesses a dir's parameterization. Start a fresh dir")
        else write(baseDir, params)
    }

  /** Verify only the GIVEN keys against the marker (when one exists) —
    * for maintenance entry points that take a single parameter (e.g.
    * compactIndex's n): a wrong value would heal deltas under the
    * wrong shingle width. Key absence and marker absence both pass
    * (the full check belongs to [[establish]]). */
  def verifyKeys(baseDir: String, keys: Map[String, String]): Unit =
    recorded(baseDir).foreach { r =>
      keys.foreach { case (k, v) =>
        r.get(k).filter(_ != v).foreach { rv =>
          throw new IllegalArgumentException(
            s"stream params mismatch on $baseDir: recorded $k=$rv, " +
              s"this call passes $k=$v — maintenance under the wrong " +
              "parameter would corrupt the layers it heals")
        }
      }
    }

  private def write(baseDir: String, params: Map[String, String]): Unit = {
    val dir = Paths.get(baseDir)
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, "_params", ".tmp")
    Files.write(tmp, DurableArtifact.canonParams(params)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(MarkerFile),
      StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Seed-time TABLE check: every build param RECORDED on the durable
    * table that the stream's parameterization also names must agree —
    * the n=4-index-into-an-n=3-stream seed throws here. A table with
    * no recorded params (a caller-built table) is the
    * caller's assertion, same trust level as handing the frame
    * directly. Keys only one side knows (the index records just `n`;
    * the stream also records its threshold) are fine — they
    * parameterize different stages. */
  def requireTableCompatible(s: org.apache.spark.sql.SparkSession,
      table: String, streamParams: Map[String, String]): Unit =
    DurableArtifact.recordedParams(s, table).foreach { rec =>
      rec.foreach { case (k, v) =>
        streamParams.get(k).filter(_ != v).foreach { sv =>
          throw new IllegalArgumentException(
            s"seed params mismatch: table $table was built with $k=$v " +
              s"but the stream runs $k=$sv — seeding it would make " +
              "every later trigger silently wrong (its layers compose " +
              "only under the build parameters). Seed from an artifact " +
              "built with the stream's parameters")
        }
      }
    }
}
