package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Golden law of the manifest format: one fixed script over
  * deterministically named files drives every commit face (DDL, the
  * lock-free append, the listing commit, the deletion-vector restate, an
  * upsert's restate + append, a partition-exact SQL DELETE, ALTER, a
  * forced checkpoint, restore, clone, a branch append and its
  * fast-forward, a branch delete and upsert and their fast-forward) and compares each version's manifest text and
  * partition index with the fixture `manifest-golden.txt`. Only random
  * names are normalized: Spark's per-job part-file UUIDs and the
  * deletion-vector sidecar tags (decoded from the hex stats first).
  *
  * A version whose delta-versus-full FORM is allowed to differ from the
  * fixture is listed in `byView`; it is compared by its reconstructed
  * `manifestView` instead (the fixture records every version's view).
  * The normalized output of each run is written to
  * `target/manifest-golden.actual.txt`, which is how the fixture is
  * captured.
  *
  * The same script records the value-index sidecar trees (`bloom/`,
  * `ndv/`, `sum/`) of every table after every step: each file's name with
  * its hex rel and column decoded (part-file UUIDs normalized) and the
  * SHA-256 of its bytes, compared with `sidecar-golden.txt` (captured
  * from `target/sidecar-golden.actual.txt` the same way).
  */
class ManifestFormatSpec extends SparkSpec {

  import spark.implicits._

  private val byView: Set[String] = Set.empty

  /** The entries the branch-DML steps add. Their upsert files carry the
    * shared append landing's `mor-adhoc-` name prefix, which branch
    * upserts gained when they began to run the main-line core; it is
    * normalized away in these entries only (the main-line upsert's
    * files in them too), as UUIDs are everywhere.
    */
  private def branchDml(key: String): Boolean =
    key.startsWith("branch-d/") || key.startsWith("t/v0000000011.") || key == "t@11" ||
      Set("createBranch d t", "branch delete t", "branch upsert t", "v11 fastForward d t")(key)

  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
  private val dvTag = "\\.dv-(rb-)?[0-9a-f]{8}-".r

  private def unhex(h: String): String =
    new String(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray, UTF_8)

  private def norm(s: String): String =
    dvTag.replaceAllIn(uuid.replaceAllIn(s, "<uuid>"), m => s".dv-${Option(m.group(1)).getOrElse("")}<tag>-")

  /** One manifest body line with its stats decoded and random names
    * normalized; header lines only normalized.
    */
  private def normLine(line: String): String =
    if (line.startsWith("#")) norm(line)
    else {
      val parts = line.split("\t")
      norm((parts.head +: parts.tail.toSeq.map { e =>
        val Array(c, t, mn, mx) = e.split(":", 4)
        s"${unhex(c)}:$t:${unhex(mn)}:${unhex(mx)}".replace("\u0000", "\\0")
      }).mkString("\t"))
    }

  private def viewText(v: Snapshots.ManifestView): String =
    (Seq(
      s"schema ${v.schema.map(_.json).getOrElse("-")}",
      s"statscols ${v.statsCols.mkString(",")}",
      s"bloomcols ${v.bloomCols.mkString(",")}",
      s"dropped ${v.dropped.mkString(",")}",
      s"partcols ${v.partCols.mkString(",")}") ++
      v.rels.sorted.map { rel =>
        val st = v.stats.getOrElse(rel, Map.empty).toSeq.sortBy(_._1)
        (rel +: st.map { case (c, cs) => s"$c:${cs.typ}:${cs.min}:${cs.max}" })
          .mkString("\t")
          .replace("\u0000", "\\0")
      }).map(norm).mkString("\n")

  /** Lands `df` as the one file `rel` under `root`. */
  private def landAs(df: DataFrame, root: String, rel: String): String = {
    val stage = Files.createTempDirectory("golden_stage").toString + "/s"
    df.coalesce(1).write.parquet(stage)
    val fs = new Path(stage).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new Path(stage)).map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val to = new Path(root, rel)
    fs.mkdirs(to.getParent)
    assert(fs.rename(part, to))
    fs.delete(new Path(stage), true)
    rel
  }

  /** Every manifest, partition index and view of the table at `root`,
    * keyed by `<tag>/<file name>` and `<tag>@<version>`.
    */
  private def capture(tag: String, root: String): Seq[(String, String)] = {
    val dir = new Path(root, Snapshots.ManifestDirName)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(dir).map(_.getPath.getName).filter(n =>
      n.startsWith("v") && (n.endsWith(".manifest") || n.endsWith(".manifest.pidx"))).sorted
    files.toSeq.map { n =>
      val text = MetaFiles.readText(fs, new Path(dir, n)).get
      s"$tag/$n" -> text.split("\n").toSeq.filter(_.nonEmpty).map(normLine).mkString("\n")
    } ++ Snapshots.manifestVersions(spark, root).map { case (v, _) =>
      s"$tag@$v" -> viewText(Snapshots.manifestView(spark, root, v))
    }
  }

  private def branchCapture(root: String, name: String): Seq[(String, String)] = {
    val dir = Snapshots.branchDir(new Path(root), name)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).map(_.getPath.getName).filter(_.endsWith(".manifest")).sorted.toSeq.map { n =>
      val text = MetaFiles.readText(fs, new Path(dir, n)).get
      s"branch-$name/$n" -> text.split("\n").toSeq.filter(_.nonEmpty).map(normLine).mkString("\n")
    }
  }

  /** The sidecar trees of the table at `root`: one line per file,
    * `<kind>/<rel>.<column> <sha-256 of the bytes>`, sorted.
    */
  private def sidecarTrees(root: String): String = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("bloom", "ndv", "sum").flatMap { kind =>
      val dir = new Path(new Path(root, Snapshots.ManifestDirName), kind)
      val files = if (fs.exists(dir)) fs.listStatus(dir).map(_.getPath).toSeq else Nil
      files.filterNot(_.getName.startsWith(".")).map { p =>
        val Array(rel, c) = p.getName.split("\\.", 2).map(unhex)
        val bytes = Files.readAllBytes(Paths.get(p.toUri))
        val sha = java.security.MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"${b & 0xff}%02x").mkString
        s"$kind/${norm(rel)}.$c $sha"
      }
    }.sorted.mkString("\n")
  }

  private def parse(text: String): Map[String, String] =
    text.split("\n=== ").toSeq.filter(_.nonEmpty).map { sec =>
      val body = sec.stripPrefix("=== ")
      val cut = body.indexOf('\n')
      if (cut < 0) body -> "" else body.substring(0, cut) -> body.substring(cut + 1).stripSuffix("\n")
    }.toMap

  /** Runs the script once: the manifests and views it leaves, and the
    * sidecar trees after each step.
    */
  private lazy val script: (Seq[(String, String)], Seq[(String, String)]) = {
    val base = Files.createTempDirectory("golden").toString
    val root = s"$base/t"
    val key = "spark.graft.snapshot.checkpointInterval"
    spark.conf.set(key, "3")
    spark.conf.set("spark.sql.catalog.golden", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.golden.root", base)
    val out = Seq.newBuilder[(String, String)]
    val trees = Seq.newBuilder[(String, String)]
    def step(tag: String)(op: => Unit): Unit = {
      op
      trees += s"$tag t" -> sidecarTrees(root)
    }
    try {
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("day", StringType), StructField("v", DoubleType)))
      // v1: DDL
      step("v1 createTable")(Snapshots.createTable(spark, root, schema, Seq("day"), Seq("day", "id"), Seq("id")))
      // v2: lock-free append of a file carrying an added column
      step("v2 commitAppend") {
        val a1 = landAs(
          Seq((1L, 1.0, "x"), (2L, 2.0, "y"), (3L, 3.0, "z"), (4L, 4.0, "w")).toDF("id", "v", "tag"),
          root, "day=d01/a1.parquet")
        Snapshots.commitAppend(spark, root, Seq(a1))
      }
      // v3: listing commit adopting a loose file (a checkpoint at interval 3)
      step("v3 commit") {
        landAs(
          Seq((5L, 5.0), (6L, 6.0), (7L, 7.0), (8L, 8.0)).toDF("id", "v"), root, "day=d02/b1.parquet")
        Snapshots.commit(spark, root)
      }
      // v4: merge-on-read DELETE (a deletion-vector restate)
      step("v4 deleteWhere")(DeleteVectors.deleteWhere(spark, root, col("id") === 2L))
      // v5: upsert (one restate + appended files)
      step("v5 upsert") {
        DeleteVectors.upsert(
          spark, root,
          Seq((6L, "d02", 60.0, "u"), (9L, "d03", 9.0, "n")).toDF("id", "day", "v", "tag"),
          Seq("id"))
      }
      // v6: metadata-only SQL DELETE (removed-only restate)
      step("v6 sql delete")(spark.sql("DELETE FROM golden.t WHERE day = 'd03'"))
      // v7: ALTER TABLE ADD COLUMNS (header-only DDL)
      step("v7 alter")(spark.sql("ALTER TABLE golden.t ADD COLUMNS (note STRING)"))
      // v8: forced checkpoint; v9: restore to the DV-delete version
      step("v8 checkpoint")(Snapshots.checkpoint(spark, root))
      step("v9 restore")(Snapshots.restore(spark, root, 4L))
      // clone of the latest version
      step("clone") {
        Snapshots.cloneSnapshot(spark, root, s"$base/c")
        trees += "clone c" -> sidecarTrees(s"$base/c")
      }
      // a branch append, then its fast-forward (v10)
      step("createBranch")(Snapshots.createBranch(spark, root, "b"))
      step("appendToBranch") {
        Snapshots.appendToBranch(
          spark, root, "b", Seq((10L, "d04", 10.0, "b", "nb")).toDF("id", "day", "v", "tag", "note"))
      }
      out ++= branchCapture(root, "b")
      step("v10 fastForward")(Snapshots.fastForward(spark, root, "b"))
      // branch DML on a second branch: a delete vectoring a fork file, an
      // upsert vectoring it again and appending, then its fast-forward (v11)
      step("createBranch d")(Snapshots.createBranch(spark, root, "d"))
      step("branch delete")(DeleteVectors.deleteWhere(spark, root, col("id") === 5L, branch = "d"))
      step("branch upsert") {
        DeleteVectors.upsert(
          spark, root,
          Seq((7L, "d02", 70.0, "u", "nu"), (11L, "d05", 11.0, "n", "nn")).toDF("id", "day", "v", "tag", "note"),
          Seq("id"), branch = "d")
      }
      out ++= branchCapture(root, "d")
      step("v11 fastForward d")(Snapshots.fastForward(spark, root, "d"))
      out ++= capture("t", root)
      out ++= capture("c", s"$base/c")
    } finally {
      spark.conf.unset(key)
      spark.conf.unset("spark.sql.catalog.golden")
      spark.conf.unset("spark.sql.catalog.golden.root")
    }
    // a tree is a sorted line set: it re-sorts after the prefix goes
    def normDml(entries: Seq[(String, String)], lines: String => String) =
      entries.map { case (k, v) => k -> (if (branchDml(k)) lines(v.replace("mor-adhoc-", "")) else v) }
    (normDml(out.result(), identity), normDml(trees.result(), _.split("\n").sorted.mkString("\n")))
  }

  /** Writes `got` to `target/<name>.actual.txt`; its sections must equal
    * the fixture's, except the versions `compared` leaves out.
    */
  private def assertGolden(
      name: String,
      got: Seq[(String, String)],
      compared: String => Boolean = _ => true): Unit = {
    val text = got.map { case (k, v) => s"=== $k\n$v\n" }.mkString
    Files.createDirectories(Paths.get("target"))
    Files.write(Paths.get(s"target/$name.actual.txt"), text.getBytes(UTF_8))
    val resource = s"/graft/sources/$name.txt"
    val in = getClass.getResourceAsStream(resource)
    assert(in != null, s"missing fixture $resource (this run wrote target/$name.actual.txt)")
    val want = parse(new String(in.readAllBytes(), UTF_8))
    val have = parse(text)
    assert(want.keySet.filter(compared) == have.keySet.filter(compared))
    want.keys.toSeq.sorted.filter(compared).foreach { k =>
      assert(have(k) == want(k), s"$k differs from the golden fixture")
    }
  }

  test("every commit face writes the manifest text and partition index of the golden fixture") {
    assertGolden(
      "manifest-golden",
      script._1,
      k => !byView.exists(v => k == s"$v.manifest" || k == s"$v.manifest.pidx"))
  }

  test("every commit face leaves the sidecar names and bytes of the golden fixture") {
    assertGolden("sidecar-golden", script._2)
  }
}
