package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Source scans that keep graft's durability decisions in ONE module
  * each: outside [[MetaFiles]], no main file may create, open or append
  * to a Hadoop file by hand or decode a stream with
  * `Source.fromInputStream`; outside [[MetaFiles]] and [[DataFiles]], no
  * main file may rename. The exceptions are allow-listed below — each
  * named by file and enclosing `def`, with its exact number of hits so a
  * new hand-written call inside an allowed def still fails.
  */
class MetaFilesScanSpec extends AnyFunSuite {

  private val allowed: Map[(String, String), (Int, String)] = Map(
    ("Snapshots.scala", "withTableLock") ->
      (2, "the table lock: create-exclusive acquire and the in-place heartbeat rewrite"),
    ("Snapshots.scala", "tryWriteManifestClaimed") ->
      (2, "the manifest slot claim (create-exclusive) and its fenced manifest temp file"),
    ("Snapshots.scala", "headerView") -> (1, "streams a manifest's header lines only"),
    ("Snapshots.scala", "prunedViewByDir") -> (1, "byte-range reads of a manifest's partition groups"),
    ("Snapshots.scala", "ndvRegisters") -> (1, "binary NDV register read"),
    ("Snapshots.scala", "bloomMightContain") -> (1, "binary bloom filter read"),
    ("Frontier3.scala", "corruptFile") -> (1, "a query's deliberately corrupted scratch data file"))

  private val renameAllowed: Map[(String, String), (Int, String)] = Map(
    ("Snapshots.scala", "withTableLock") -> (2, "the table lock: break a stale lock by rename, restore it"),
    ("Snapshots.scala", "tryWriteManifestClaimed") ->
      (3, "the manifest slot claim: break a stale claim, restore it, publish the fenced manifest"),
    ("Snapshots.scala", "fastForward") -> (4, "branch fast-forward: move branch files live, and back on failure"),
    ("Sources.scala", "idempotentBatchAppend") -> (1, "plain-parquet batch append: the dir rename is the commit"),
    ("SnapRowLevel.scala", "commit") -> (2, "DSv2 writers' task commits onto their final names"),
    ("Frontier3.scala", "q235") -> (1, "the query's upsert input fixture"),
    ("Frontier3.scala", "q238") -> (1, "the query's CDC input fixture"),
    ("Frontier3.scala", "q244") -> (1, "the query's CDC input fixture"))

  private val handIo =
    """(\b\w*[fF][sS]\.(create|open|append)\(|getFileSystem\([^)]*\)\.(create|open|append)\(|Source\.fromInputStream\()""".r
  private val defLine =
    """^(\s*)(?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|implicit\s+|lazy\s+)*def\s+(\w+)""".r

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
  }

  private def indent(line: String): Int = line.length - line.dropWhile(_ == ' ').length

  /** The `def` whose body holds line `i`: the nearest def above it that
    * is indented less than every code line in between.
    */
  private def enclosingDef(lines: IndexedSeq[String], i: Int): String = {
    var scope = indent(lines(i))
    var j = i - 1
    while (j >= 0) {
      val l = lines(j)
      if (l.trim.nonEmpty && !isComment(l)) {
        defLine.findFirstMatchIn(l) match {
          case Some(m) if m.group(1).length < scope => return m.group(2)
          case _ => scope = math.min(scope, indent(l))
        }
      }
      j -= 1
    }
    "<top level>"
  }

  private def mainFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) mainFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    }

  /** Non-comment lines of main code matching `pattern`, outside the
    * `exempt` files, grouped by (file, enclosing def).
    */
  private def hitsOf(pattern: scala.util.matching.Regex, exempt: Set[String]): Map[(String, String), Seq[String]] = {
    val root = new java.io.File(sys.props("user.dir"), "src/main/scala/graft")
    val files = mainFiles(root).filterNot(f => exempt(f.getName))
    assert(files.size > 50, s"found only ${files.size} main files under $root")
    val hits = files.flatMap { f =>
      val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toIndexedSeq
      lines.indices.collect {
        case i if !isComment(lines(i)) && pattern.findFirstIn(lines(i)).isDefined =>
          (f.getName, enclosingDef(lines, i)) -> s"${f.getName}:${i + 1}: ${lines(i).trim}"
      }
    }
    hits.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  private def checkAllowed(
      byDef: Map[(String, String), Seq[String]],
      allowed: Map[(String, String), (Int, String)],
      what: String): Unit = {
    val stray = byDef.filter { case (k, v) => !allowed.get(k).exists(_._1 == v.size) }
    assert(stray.isEmpty, s"$what:\n" + stray.values.flatten.toSeq.sorted.mkString("\n"))
    val stale = allowed.keySet -- byDef.keySet
    assert(stale.isEmpty, s"allow-list entries that match nothing any more: $stale")
  }

  test("no small metadata file is written or read by hand outside MetaFiles") {
    checkAllowed(
      hitsOf(handIo, Set("MetaFiles.scala")),
      allowed,
      "hand-written metadata IO outside MetaFiles (use publish/replace/readText)")
  }

  test("no file is renamed by hand outside MetaFiles and DataFiles") {
    checkAllowed(
      hitsOf("""\.rename\(""".r, Set("MetaFiles.scala", "DataFiles.scala")),
      renameAllowed,
      "hand-written rename outside MetaFiles and DataFiles (land data files with DataFiles.land/swap)")
  }
}
