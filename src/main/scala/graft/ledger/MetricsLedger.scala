package graft.ledger

import java.net.{URLDecoder, URLEncoder}
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** Per-partition metrics checkpoint with atomic commits — the engine's
  * resumability story (north rule: "per-partition lineage and metrics
  * checkpoints ... so a restarted job skips verified partitions").
  *
  * The table shape targeted is Iceberg's metrics-table pattern; with no
  * Iceberg runtime jar in this sandbox (SURVEY.md §7.4-7) the commit
  * protocol is the same one Iceberg's file IO uses underneath: write to a
  * temp file, fsync, atomic rename. One ledger entry per `lang` partition
  * carries the row count and the order-independent sha256-CRC fingerprint
  * produced by [[graft.engine.Validator.partitionVerdicts]], so a resumed
  * run (a) skips committed partitions and (b) can later prove input
  * equality against the fingerprint. Swapping this for an Iceberg metrics
  * table is a config change, not a code change.
  */
class MetricsLedger(dir: String) {
  private val root: Path = Paths.get(dir)
  Files.createDirectories(root)

  case class Entry(lang: String, records: Long, failedRecords: Long,
                   shaFingerprint: Long, verdict: String)

  /** The entry file of `lang`: the value is percent-encoded (UTF-8 bytes;
    * letters, digits and `.-*_` stay as they are), so every lang maps to
    * one ASCII-named file directly under the root, whatever the JVM's
    * file-name encoding. */
  private def fileFor(lang: String): Path = root.resolve(
    s"lang=${URLEncoder.encode(lang, StandardCharsets.UTF_8)}.commit")

  private val mapper = new ObjectMapper()

  /** Atomically and durably commit one partition's metrics: write a temp
    * file and fsync it, rename it over the entry, then fsync the directory
    * so the rename itself survives a crash. */
  def commit(e: Entry): Unit = {
    val payload = mapper.createObjectNode()
      .put("lang", e.lang).put("records", e.records)
      .put("failed_records", e.failedRecords)
      .put("sha_fingerprint", e.shaFingerprint).put("verdict", e.verdict)
    val tmp = Files.createTempFile(root, ".entry", ".tmp")
    Files.write(tmp, mapper.writeValueAsBytes(payload))
    fsync(tmp)
    Files.move(tmp, fileFor(e.lang), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    fsync(root)
  }

  private def fsync(p: Path): Unit =
    scala.util.Using.resource(FileChannel.open(p))(_.force(true))

  /** Langs already verified and committed. (`Files.list` streams must be
    * closed per its javadoc — `Using` guarantees it.) */
  def committedLangs(): Set[String] =
    scala.util.Using.resource(Files.list(root)) { stream =>
      stream.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.endsWith(".commit"))
        .map(f => URLDecoder.decode(f.stripPrefix("lang=")
          .stripSuffix(".commit"), StandardCharsets.UTF_8))
        .toSet
    }

  def read(lang: String): Option[String] = {
    val f = fileFor(lang)
    if (Files.exists(f))
      Some(new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
    else None
  }

  /** Resume filter: drop partitions already committed. With `lang` as the
    * table's physical partition column this prunes whole directories at
    * the scan (the `NOT IN` compiles to partition-pruning predicates). */
  def pendingOnly(records: DataFrame): DataFrame = {
    val done = committedLangs()
    if (done.isEmpty) records
    else records.where(!col("lang").isInCollection(done.toSeq))
  }

  /** Commit every partition verdict row (driver-side: |langs| rows). */
  def commitVerdicts(verdicts: DataFrame): Unit =
    commitVerdicts(verdicts.select("lang", "records", "failed_records",
      "sha_fingerprint", "verdict").collect())

  /** Commit already collected [[graft.engine.Validator.partitionVerdicts]]
    * rows. */
  def commitVerdicts(verdicts: Array[Row]): Unit = verdicts.foreach { r =>
    commit(Entry(r.getAs[String]("lang"), r.getAs[Long]("records"),
      r.getAs[Long]("failed_records"), r.getAs[Long]("sha_fingerprint"),
      r.getAs[String]("verdict")))
  }
}
