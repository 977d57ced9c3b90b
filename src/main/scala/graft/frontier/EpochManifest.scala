package graft.frontier

import org.json4s.{DefaultFormats, Extraction, Formats}
import org.json4s.jackson.JsonMethods.{compact, parse, render}
import java.io.{BufferedOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Rows and words of one scraped partition, split by fetch outcome. */
final case class PartitionLineage(pid: Int, fetchOk: Boolean, rows: Long, words: Long)

/** The commit record of one crawl epoch, `manifest_<epoch>.json`: a bootstrap
  * (`kind = "bootstrap"`, epoch 0, with the seed `frontier` dir), a crawl epoch
  * (no `kind`; the counts, `wallMs` and lineage of the epoch it closes) or a
  * TTL recrawl (`kind = "recrawl"`, with `expiredEpoch`). Fields a kind does
  * not carry are `None` and absent from the JSON; bootstrap manifests written
  * before `frontierQueued` was recorded lack it too. */
final case class EpochManifest(
    epoch: Int,
    strategy: String,
    seenBase: Int,
    seenTotal: Long,
    frontierQueued: Option[Long],
    kind: Option[String] = None,
    frontier: Option[String] = None,
    expiredEpoch: Option[Int] = None,
    fetched: Option[Long] = None,
    failed: Option[Long] = None,
    skippedRobots: Option[Long] = None,
    newFrontier: Option[Long] = None,
    wallMs: Option[Long] = None,
    partitions: Option[Seq[PartitionLineage]] = None)

/** The manifest codec: JSON with snake_case keys, one file per epoch. */
object EpochManifest {
  private implicit val formats: Formats = DefaultFormats

  def encode(m: EpochManifest): String = compact(render(Extraction.decompose(m).snakizeKeys))

  def decode(json: String): EpochManifest = parse(json).camelizeKeys.extract[EpochManifest]

  def path(runDir: String, epoch: Int): Path = Paths.get(f"$runDir/manifest_$epoch%04d.json")

  /** The manifest committed at `epoch`, if any: a regular file (a directory
    * at the manifest's path is no commit). */
  def read(runDir: String, epoch: Int): Option[EpochManifest] =
    Some(path(runDir, epoch)).filter(Files.isRegularFile(_)).map(p => decode(Files.readString(p)))

  /** Atomic commit: a reader never sees a partial manifest. */
  def commit(runDir: String, m: EpochManifest): Unit =
    AtomicFile.write(path(runDir, m.epoch))(_.write(encode(m).getBytes(UTF_8)))
}

/** The one writer of the run dir's small files (manifests and seen-delta
  * filters): the bytes go to a hidden temp file beside `path`, which is then
  * renamed over `path`, so a reader sees the old file or the whole new one. */
private[frontier] object AtomicFile {
  def write(path: Path)(body: OutputStream => Unit): Unit = {
    val tmp = path.resolveSibling("." + path.getFileName.toString + ".tmp")
    val os = new BufferedOutputStream(Files.newOutputStream(tmp))
    try body(os) finally os.close()
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}
