package graft.checkpoint

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import java.nio.file.{Files, Paths, Path, StandardCopyOption}
import java.nio.charset.StandardCharsets
import scala.util.Try
import scala.util.matching.Regex

/** Per-stage checkpointing with lineage + counters (north rule: every
  * stage checkpointed with lineage and per-part-file row counters for
  * full resumability).
  *
  * Layout per stage under `root`:
  *   <root>/<stage>/data/          partitioned parquet
  *   <root>/<stage>/_manifest.json stage, input fingerprint, snapshot id,
  *                                 row count, per-part-file row counters,
  *                                 wall time
  *
  * Counting runs no Spark job: the row counts are read on the driver from
  * the footers of the `part-*` files the write committed (one file per
  * write task), so they describe the write itself. Reading back runs no
  * schema-inference job either: a write reads with the schema it wrote
  * ([[CheckpointStore.materialize]]), a resume or [[read]] with the one
  * Spark stored in the first part file's footer.
  *
  * This emulates an Iceberg-style snapshot manifest: no Iceberg runtime
  * jar exists in this offline environment (SURVEY.md §7.4), so the layout
  * is Hive-partitioned parquet + a JSON manifest behind this trait-shaped
  * API; a real Iceberg catalog can be dropped in by reimplementing
  * write/read against `spark.table` + `snapshot_id`.
  *
  * Resumability contract: a stage is skipped iff its manifest exists, its
  * recorded input fingerprint equals the current chained fingerprint
  * (config + upstream fingerprints hashed in) AND its part-file footers
  * are readable, hold Spark's schema and still sum to the manifest's rows,
  * making restarts idempotent and stale or damaged checkpoints
  * self-invalidating.
  *
  * Crash safety: the manifest is the commit record. `write` deletes it
  * before computing or overwriting the data, and publishes the new one by
  * an atomic rename of a fully written temp file, so a run that dies
  * anywhere in between leaves no manifest — the next run recomputes
  * instead of resuming on half-written data under an older manifest.
  */
final class CheckpointStore(root: String, spark: SparkSession) {

  private def dir(stage: String): Path = Paths.get(root, stage)
  private def manifestPath(stage: String): Path = dir(stage).resolve("_manifest.json")
  private def dataPath(stage: String): String = dir(stage).resolve("data").toString

  private def manifestField(stage: String, field: Regex): Option[String] =
    Some(manifestPath(stage)).filter(Files.exists(_))
      .flatMap(p => field.findFirstMatchIn(Files.readString(p)).map(_.group(1)))

  def isComplete(stage: String, fingerprint: String): Boolean =
    manifestField(stage, CheckpointStore.FingerprintField).contains(fingerprint)

  /** The row count the stage's manifest records (counted during `write`). */
  def rows(stage: String): Long =
    manifestField(stage, CheckpointStore.RowsField).map(_.toLong)
      .getOrElse(throw new IllegalStateException(s"no manifest for stage $stage"))

  /** The stage's data, read with the schema its part-file footers record. */
  def read(stage: String): DataFrame =
    spark.read.schema(footers(stage)._1).parquet(dataPath(stage))

  /** Write the stage table + manifest; returns the re-read DataFrame so
    * downstream stages consume the materialized checkpoint (truncated
    * lineage), not the logical plan. `df` is evaluated only after the old
    * manifest is gone. */
  def write(stage: String, df: => DataFrame, fingerprint: String): DataFrame = {
    val t0 = System.nanoTime()
    Files.deleteIfExists(manifestPath(stage))
    val (back, _) = CheckpointStore.materialize(df, Some(dataPath(stage)))
    val parts = footers(stage)._2
    val rows = parts.map(_._2).sum
    val wallMs = (System.nanoTime() - t0) / 1000000
    val counters = parts.map { case (f, c) => s"""{"file": "$f", "rows": $c}""" }
      .mkString("[", ", ", "]")
    val manifest =
      s"""{
         |  "stage": "$stage",
         |  "input_fingerprint": "$fingerprint",
         |  "snapshot_id": "${stage}_${fingerprint}",
         |  "rows": $rows,
         |  "partitions": ${parts.length},
         |  "partition_counters": $counters,
         |  "write_wall_ms": $wallMs
         |}""".stripMargin
    Files.createDirectories(dir(stage))
    val tmp = dir(stage).resolve("_manifest.json.tmp")
    Files.write(tmp, manifest.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath(stage), StandardCopyOption.ATOMIC_MOVE)
    back
  }

  /** The Spark schema stored in the first footer and the (file name, row
    * count) of every `part-*` parquet file under the stage's `data/`, from
    * the file footers on the driver — no Spark job. Throws when `data/` is
    * missing, holds no part file, or a footer cannot be read or lacks the
    * schema. */
  private def footers(stage: String): (StructType, Seq[(String, Long)]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = Option(new java.io.File(dataPath(stage)).listFiles())
      .getOrElse(throw new java.io.FileNotFoundException(dataPath(stage)))
      .filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq
    val parts = files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toURI), conf))
      try (f.getName, r.getRecordCount,
        r.getFooter.getFileMetaData.getKeyValueMetaData.get(CheckpointStore.SchemaKey))
      finally r.close()
    }
    val schema = parts.headOption.flatMap(p => Option(p._3)).getOrElse(
      throw new java.io.IOException(s"no Spark schema in the footers of ${dataPath(stage)}"))
    (DataType.fromJson(schema).asInstanceOf[StructType], parts.map(p => (p._1, p._2)))
  }

  /** Run-or-resume: skip when the checkpoint is current and its part-file
    * footers hold the schema and still sum to the manifest's rows (a lost
    * or unreadable part file, or a missing `data/`, fails that), else
    * compute. */
  def stage(name: String, fingerprint: String)(compute: => DataFrame): DataFrame =
    Some(name).filter(isComplete(_, fingerprint))
      .flatMap(n => Try(footers(n)).toOption.filter(_._2.map(_._2).sum == rows(n)))
      .map(f => spark.read.schema(f._1).parquet(dataPath(name)))
      .getOrElse(write(name, compute, fingerprint))
}

object CheckpointStore {
  private val FingerprintField = """"input_fingerprint"\s*:\s*"([^"]*)"""".r
  private val RowsField = """(?m)^\s*"rows"\s*:\s*(\d+)""".r
  /** The footer key under which Spark's parquet writer stores the schema. */
  private val SchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Materializes `df` and cuts its lineage, for every stage checkpoint and
    * loop cut: to a `durable` path as parquet read back with `df.schema` (what
    * inference returns, both nullable, minus its job), else `localCheckpoint()`.
    * Observes `metrics` on that action; returns the frame and their values. */
  private[graft] def materialize(df: DataFrame, durable: Option[String],
      metrics: Column*): (DataFrame, Map[String, Any]) = {
    val obs = Observation()
    val watched = metrics.headOption.fold(df)(m => df.observe(obs, m, metrics.tail: _*))
    val out = durable.fold(watched.localCheckpoint()) { path =>
      watched.write.mode("overwrite").parquet(path)
      df.sparkSession.read.schema(df.schema).parquet(path)
    }
    (out, if (metrics.isEmpty) Map.empty else obs.get)
  }

  /** Deterministic chained fingerprint (hex of 64-bit FNV-1a). */
  def fingerprint(parts: String*): String = {
    var h = 0xcbf29ce484222325L
    parts.foreach { s =>
      s.foreach { c => h ^= c.toLong; h *= 0x100000001b3L }
      h ^= 0x1fL; h *= 0x100000001b3L
    }
    java.lang.Long.toHexString(h)
  }
}
