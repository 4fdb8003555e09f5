package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import scala.util.Try
import graft.wrm.{DedupGate, TextFix}

/** Raw snapshot text sink (SURVEY §2.1 S4 + the S2/S3 pre-write steps;
  * reference raw_all.py:80-161): fix encoding → content-hash dedup gate
  * against the most recent stored payload → write to
  * `root/dt=YYYY-MM-DD/wrm_stations_<ts>.txt`.
  *
  * Driver-side by design — one payload per fetch; the engine's distributed
  * path starts at the file source that watches this layout.
  */
object RawTextSink {

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd_HH-mm-ss")
  private val DateFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd")

  final case class WriteResult(key: String, skippedDuplicate: Boolean)

  /** Most recent stored file across ALL date partitions (raw_all.py:107 —
    * dedup compares against the single newest object only, SURVEY §7.4.6).
    *
    * mtime ties (same millisecond on tmpfs; second-granularity object-store
    * LastModified) are broken by filename, which embeds the logical
    * timestamp (`wrm_stations_<yyyy-MM-dd_HH-mm-ss>.txt`) — otherwise the
    * first max in directory-walk order would win, making the dedup scope
    * nondeterministic.
    *
    * One attribute read per entry: the walk's own. A symlinked `.txt` is
    * followed to its target's attributes, as `Files.isRegularFile` does;
    * symlinked directories are not descended. The walk still visits every
    * stored file, so landing time grows linearly with the raw tree.
    */
  def mostRecent(root: Path): Option[Path] = {
    if (!Files.exists(root)) return None
    var best: Option[(Path, (Long, String))] = None
    Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def visitFile(p: Path, attrs: BasicFileAttributes): FileVisitResult = {
        val name = p.getFileName.toString
        if (name.endsWith(".txt")) {
          val target =
            if (attrs.isSymbolicLink)
              Try(Files.readAttributes(p, classOf[BasicFileAttributes])).toOption
            else Some(attrs)
          target.filter(_.isRegularFile).foreach { a =>
            val key = (a.lastModifiedTime.toMillis, name)
            if (best.forall(b => Ordering[(Long, String)].gt(key, b._2))) best = Some((p, key))
          }
        }
        FileVisitResult.CONTINUE
      }
    })
    best.map(_._1)
  }

  /** Fix → dedup-check → write. Returns the stored (or existing) key. */
  def write(root: Path, payload: String,
            now: LocalDateTime = LocalDateTime.now()): WriteResult = {
    val fixed = TextFix.fixText(payload)
    val recent = mostRecent(root) // one tree walk, reused for hash + key
    val lastHash = recent.map(p =>
      DedupGate.sha256Hex(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
    val decision = DedupGate.check(fixed, lastHash)
    if (decision.isDuplicate)
      return WriteResult(recent.get.toString, skippedDuplicate = true)
    val dir = root.resolve(s"dt=${now.format(DateFmt)}")
    Files.createDirectories(dir)
    val f = dir.resolve(s"wrm_stations_${now.format(TsFmt)}.txt")
    Files.write(f, fixed.getBytes(StandardCharsets.UTF_8))
    WriteResult(f.toString, skippedDuplicate = false)
  }
}
