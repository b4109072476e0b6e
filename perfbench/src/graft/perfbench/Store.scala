package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

/** Minimal JSON writer for the benchmark's own records (maps, sequences,
  * strings, numbers, booleans). Non-finite numbers become null. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.iterator.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case Some(x) => apply(x)
    case None => "null"
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c => b += c
    }
    b += '"'
    b.toString
  }

  /** Reads back the flat `"key":number` pairs of a record this object wrote. */
  def numbers(text: String): Map[String, Double] =
    """"([A-Za-z0-9_.]+)":(-?[0-9][0-9.eE+-]*)""".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
}

/** Files the benchmark writes: every artifact goes to a temp file in the
  * same directory and is atomically moved to a run-stamped name, so a
  * killed run never leaves a truncated or overwritten record. */
object Store {
  def writeAtomic(target: Path, text: String): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent, "." + target.getFileName, ".tmp")
    try {
      Files.write(tmp, text.getBytes(UTF_8))
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  /** A name no earlier run has taken: `<stem>-<utc stamp>-<n>.json`. */
  def runStamped(dir: Path, stem: String): Path = {
    val stamp = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss")
      .format(java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC))
    Iterator.from(0).map(i => dir.resolve(s"$stem-$stamp-$i.json"))
      .find(p => !Files.exists(p)).get
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete(); ()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).map(treeBytes).sum
    else f.length()
}

/** Generated input tables, keyed by workload, seed, size and generator
  * version. A table is reused only when both Spark's `_SUCCESS` marker and
  * the benchmark's own metadata file exist; anything else in the cache is
  * an interrupted generation and is deleted at start. At most `keep`
  * complete tables are kept per workload (least recently used go first). */
final class TableCache(root: File, keep: Int = 3) {
  val MetaFile = "_perfbench.json"

  def dirFor(workload: String, seed: Long, docs: Long, version: Int): File =
    new File(root, s"$workload-s$seed-n$docs-g$version")

  def complete(dir: File): Boolean =
    new File(dir, "_SUCCESS").isFile && new File(dir, MetaFile).isFile

  def removeIncomplete(): Unit =
    Option(root.listFiles).getOrElse(Array.empty[File])
      .filter(d => d.isDirectory && !complete(d)).foreach(Store.deleteTree)

  /** Marks `dir` as used now and evicts the oldest tables beyond `keep`
    * for the same workload. */
  def touchAndEvict(workload: String, dir: File): Unit = {
    new File(dir, MetaFile).setLastModified(System.currentTimeMillis())
    Option(root.listFiles).getOrElse(Array.empty[File])
      .filter(d => d.isDirectory && d.getName.startsWith(workload + "-s") && complete(d))
      .sortBy(d => -new File(d, MetaFile).lastModified())
      .drop(keep).foreach(Store.deleteTree)
  }

  /** Free bytes needed before generating a table of about `estimate`
    * bytes: twice the estimate (shuffle files and the table itself) plus
    * a fixed margin. */
  def fits(estimate: Long): Either[String, Unit] = {
    root.mkdirs()
    val need = 2 * estimate + (512L << 20)
    val usable = root.getUsableSpace
    if (usable >= need) Right(())
    else Left(s"insufficient disk: need $need bytes, usable $usable")
  }

  def meta(dir: File): Map[String, Double] =
    Json.numbers(new String(Files.readAllBytes(new File(dir, MetaFile).toPath), UTF_8))
}
