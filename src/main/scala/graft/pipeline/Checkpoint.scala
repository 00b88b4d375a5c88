package graft.pipeline

import org.apache.hadoop.conf.Configuration
import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption,
  StandardOpenOption}
import java.util.UUID
import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

/** Per-stage checkpoint store (engine ops E11-E13): every block output
  * row is written to
  * `<root>/<pipelineSlug>/<processingId>/<blockSlug>/output_<idx>.<ext>`
  * (the reference's layout, pipeline_block_data_registry.go:291-334),
  * extension inferred by magic-bytes sniffing (types/storage.go:126-170);
  * run-ledger documents (`log_<ts>`, `status_<ts>`) sit beside the block
  * directories.
  *
  * Multi-storage fan-out: like the reference (which writes every output
  * to local FS AND MinIO, pipeline_block_data_registry.go:291-334),
  * every write goes to ALL `roots`; a failing root is reported, never
  * fatal. Reads take the FIRST root that has the data — `roots` order
  * is preference order (the reference hardcodes minio-preferred,
  * `:210-214`; here the caller declares it), so data present in several
  * stores is never merged twice.
  *
  * A root is a local path or a `file:` URI; any other scheme is refused
  * at construction. All I/O goes through `java.nio.file`: a write lands
  * in a unique dot-prefixed temp file in the target directory and is
  * published with an atomic replace, so concurrent writers and readers
  * of one processing only ever see whole files, and dot-prefixed names
  * never show in listings.
  *
  * No Hadoop `FileSystem` path is kept: no caller builds a store on
  * another scheme, and the service saves every block output and serves
  * run status from here, so per-file cost is request latency. Hadoop's
  * `LocalFileSystem` adds a checksum sidecar and permission calls to
  * every file, which made checkpointing over half of a `service_mix`
  * run (perfbench). Data-scale checkpoints
  * stay on Spark and Hadoop in [[BulkRunner]]. Trees written through
  * Hadoop stay readable: their `.crc` sidecars are dot-prefixed, and a
  * replaced or deleted output takes its stale sidecar with it.
  *
  * @param conf unused; kept so existing callers compile.
  */
class CheckpointStore(val roots: Seq[String], conf: Configuration)
    extends Serializable {
  require(roots.nonEmpty, "CheckpointStore needs at least one storage root")
  roots.foreach(CheckpointStore.localPath)

  def this(root: String) = this(Seq(root), new Configuration())
  def this(roots: Seq[String]) = this(roots, new Configuration())

  private def path(root: String, parts: String*): Path =
    parts.foldLeft(CheckpointStore.localPath(root))(_.resolve(_))

  /** Runs `body` once per root; returns the failures `(root, error)`. */
  private def eachRoot(body: String => Unit): Seq[(String, String)] =
    roots.flatMap { root =>
      try { body(root); None }
      catch { case e: Exception => Some(root -> String.valueOf(e.getMessage)) }
    }

  /** `read` on each root in preference order, until one has data; a
    * root that fails to read has none. */
  private def firstWith[T](read: String => Seq[T]): Seq[T] =
    roots.iterator.map(root => try read(root) catch { case _: Exception => Nil })
      .find(_.nonEmpty).getOrElse(Nil)

  /** E11: persist one stage's output rows to every storage root.
    * Replaces only the indexes present in `rows` (targeted regeneration
    * rewrites a single index, pipeline.go:523-601). Returns the
    * per-root failures `(root, error)` — the caller ledgers them; a
    * partial write is not fatal as long as one root survives.
    *
    * Saves to one block directory from this JVM take turns: two
    * concurrent saves of an index under different extensions could
    * otherwise each list the other's file, publish their own and delete
    * the other's, leaving the index with no file at all. In turn, each
    * save publishes before it deletes, so a reader always finds the
    * index. */
  def saveOutput(pipeline: String, processingId: String, blockSlug: String,
      rows: Seq[(Int, Array[Byte])]): Seq[(String, String)] =
    eachRoot { root =>
      val d = path(root, pipeline, processingId, blockSlug)
      CheckpointStore.lockOf(d).synchronized {
        // index → existing files, so regeneration replaces output_<idx>.*
        // even when the extension changes
        val existing = CheckpointStore.names(d).groupBy(_.takeWhile(_ != '.'))
        rows.foreach { case (idx, bytes) =>
          val name = s"output_$idx${Mime.extensionOf(bytes)}"
          CheckpointStore.publish(d.resolve(name), bytes)
          existing.getOrElse(s"output_$idx", Nil).filter(_ != name)
            .foreach(n => CheckpointStore.delete(d.resolve(n)))
        }
      }
    }

  /** E12: hydrate a stage's rows from storage (resume path) — first
    * root that has the stage wins (preferred-store dedup on load).
    * One row per index: two runs on one processing id that save an
    * index under different extensions can both leave their file, and
    * the newest one (ties: the later name) is the row. A file that a
    * concurrent save deletes between listing and reading sends the load
    * back to the listing. */
  def loadOutput(pipeline: String, processingId: String,
      blockSlug: String): Option[Seq[(Int, Array[Byte])]] =
    Some(firstWith { root =>
      val d = path(root, pipeline, processingId, blockSlug)
      def load(retries: Int): Seq[(Int, Array[Byte])] =
        try CheckpointStore.names(d).collect { case n @ CheckpointStore.output(i) => i.toInt -> n }
          .groupMap(_._1)(_._2).toSeq.sortBy(_._1).map { case (i, files) =>
            // stat only an index with several files: the common path adds no calls
            val file = if (files.size == 1) files.head
              else files.maxBy(n => (Files.getLastModifiedTime(d.resolve(n)), n))
            i -> Files.readAllBytes(d.resolve(file))
          }
        catch { case _: NoSuchFileException if retries > 0 => load(retries - 1) }
      load(retries = 3)
    }).filter(_.nonEmpty)

  /** E14: write a structured run-ledger document to every root;
    * returns per-root failures. */
  def saveDocument(pipeline: String, processingId: String, name: String,
      content: String): Seq[(String, String)] =
    eachRoot(root => CheckpointStore.publish(
      path(root, pipeline, processingId, name), content.getBytes("UTF-8")))

  /** Union across roots (a processing may survive in only one store). */
  def listProcessings(pipeline: String): Seq[String] =
    roots.flatMap { root =>
      val d = path(root, pipeline)
      Try(CheckpointStore.names(d).filter(n => Files.isDirectory(d.resolve(n)))).getOrElse(Nil)
    }.distinct

  /** First root with matching documents wins (same dedup rule as
    * loadOutput). */
  def readDocuments(pipeline: String, processingId: String,
      prefix: String): Seq[(String, String)] =
    firstWith { root =>
      val d = path(root, pipeline, processingId)
      CheckpointStore.names(d)
        .filter(n => n.startsWith(prefix) && Files.isRegularFile(d.resolve(n)))
        .map(n => n -> new String(Files.readAllBytes(d.resolve(n)), "UTF-8"))
        .sortBy(_._1)
    }
}

object CheckpointStore {
  private val scheme = "^([A-Za-z][A-Za-z0-9+.-]*):".r.unanchored
  private val output = "output_(\\d+).*".r

  /** Striped monitors for [[CheckpointStore.saveOutput]]: one directory
    * always maps to the same monitor. */
  private val saveLocks = Array.fill(64)(new Object)
  private def lockOf(d: Path): Object =
    saveLocks(Math.floorMod(d.toAbsolutePath.normalize.hashCode, saveLocks.length))

  /** The local directory a root names: a path, or a `file:` URI. */
  private def localPath(root: String): Path = root match {
    case scheme(s) if s.length > 1 =>
      Try(Paths.get(java.net.URI.create(root))).filter(_ => s.equalsIgnoreCase("file"))
        .getOrElse(throw new IllegalArgumentException(
          s"checkpoint root $root is neither a local path nor a file: URI"))
    case _ => Paths.get(root)
  }

  /** Visible entry names of a directory; none when it does not exist. */
  private def names(d: Path): Seq[String] =
    try Using.resource(Files.list(d)) {
      _.iterator.asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith(".")).toSeq
    } catch { case _: NoSuchFileException => Nil }

  /** Write-then-rename through a temp name unique to this write, so a
    * concurrent writer never shares it and a concurrent reader (the
    * async start/resume API polls while the run executes) sees the old
    * file or the new one, never a part of one or a gap. */
  private def publish(target: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
    try {
      Files.write(tmp, bytes, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      Files.move(tmp, target,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
    dropSidecar(target)
  }

  private def delete(p: Path): Unit = { Files.deleteIfExists(p); dropSidecar(p) }

  /** A file written through Hadoop's LocalFileSystem has a checksum
    * sidecar `.<name>.crc`; once the file changes it no longer matches. */
  private def dropSidecar(p: Path): Unit =
    Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
}

/** Magic-bytes MIME sniffer — the reference infers checkpoint file
  * extensions from a 261-byte prefix (types/helpers/storage.go:10-26);
  * this covers the formats its blocks emit. */
object Mime {
  def extensionOf(b: Array[Byte]): String = {
    def has(off: Int, sig: Int*): Boolean =
      b.length >= off + sig.size &&
        sig.indices.forall(i => (b(off + i) & 0xff) == sig(i))
    if (has(0, 0x89, 0x50, 0x4e, 0x47)) ".png"
    else if (has(0, 0xff, 0xd8, 0xff)) ".jpg"
    else if (has(0, 'G', 'I', 'F', '8')) ".gif"
    else if (b.length >= 12 && has(4, 'f', 't', 'y', 'p')) ".mp4"
    else if (has(0, 'I', 'D', '3') || has(0, 0xff, 0xfb) || has(0, 0xff, 0xf3) ||
             has(0, 0xff, 0xf2)) ".mp3"
    else if (has(0, 'R', 'I', 'F', 'F')) ".wav"
    else if (has(0, 'O', 'g', 'g', 'S')) ".ogg"
    else if (has(0, 0x1a, 0x45, 0xdf, 0xa3)) ".webm"
    else if (looksJson(b)) ".json"
    else ".txt"
  }

  /** Brace/bracket pre-filter (first and last non-whitespace byte),
    * then a real parse for payloads up to 64 KB — a wrap_text output
    * like "[hello]" must not be checkpointed as .json. Multi-MB
    * payloads keep the cheap heuristic: extension inference must not
    * run Jackson over them just to pick ".json" vs ".txt". */
  private def looksJson(b: Array[Byte]): Boolean = {
    var i = 0
    while (i < b.length && Character.isWhitespace(b(i))) i += 1
    var j = b.length - 1
    while (j > i && Character.isWhitespace(b(j))) j -= 1
    val braced =
      i <= j && ((b(i) == '{' && b(j) == '}') || (b(i) == '[' && b(j) == ']'))
    braced &&
      (b.length > 64 * 1024 || Json.tryParse(new String(b, "UTF-8")).isDefined)
  }
}
