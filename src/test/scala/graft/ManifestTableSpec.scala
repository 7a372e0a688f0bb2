package graft

import graft.sources.{IncrementalView, ManifestTable}
import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.lit
import scala.jdk.CollectionConverters._

/** The manifest-committed table's transactional contract: atomic
  * visibility, crash tolerance, snapshot isolation, idempotent merge,
  * vacuum safety. */
class ManifestTableSpec extends SparkSpec {

  private def df(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  private def readSet(root: String): Set[(Long, String)] =
    ManifestTable.read(spark, root).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).toSet

  test("merge commits new snapshots; old versions stay readable (time travel)") {
    val root = Files.createTempDirectory("graft-manifest").toString
    ManifestTable.merge(df(1L -> "a", 2L -> "b"), root, Seq("id"))
    ManifestTable.merge(df(2L -> "B", 3L -> "c"), root, Seq("id"))
    assert(ManifestTable.currentVersion(root) == 2)
    assert(readSet(root) == Set(1L -> "a", 2L -> "B", 3L -> "c"))
    val v1 = ManifestTable.readVersion(spark, root, 1).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(v1 == Set(1L -> "a", 2L -> "b"))
  }

  test("a crashed writer leaves the table unbroken: readers still see the last commit") {
    val root = Files.createTempDirectory("graft-manifest2").toString
    ManifestTable.merge(df(1L -> "a"), root, Seq("id"))
    // simulate a writer that died AFTER writing data+manifest for v2 but
    // BEFORE the atomic pointer swap (plus a stale tmp pointer)
    Files.createDirectories(Paths.get(root, "data/v2"))
    Files.writeString(Paths.get(root, "data/v2/part-dead.parquet"), "half-written garbage")
    Files.writeString(Paths.get(root, "manifest-v2.json"), "data/v2/part-dead.parquet")
    Files.writeString(Paths.get(root, "_current.tmp-v2"), "2")

    assert(ManifestTable.currentVersion(root) == 1) // pointer never moved
    assert(readSet(root) == Set(1L -> "a"))
    // CREATE_NEW makes the next writer fail LOUDLY on the debris (it
    // can't tell a dead writer from a racing one); vacuum is the
    // documented recovery, after which the merge lands normally
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.merge(df(2L -> "b"), root, Seq("id"))
    }
    // grace 0: this recovery KNOWS no concurrent writer exists
    ManifestTable.vacuum(root, orphanGraceMs = 0L)
    ManifestTable.merge(df(2L -> "b"), root, Seq("id"))
    assert(readSet(root) == Set(1L -> "a", 2L -> "b"))
  }

  test("merge is idempotent: re-delivering a batch yields an identical snapshot") {
    val root = Files.createTempDirectory("graft-manifest3").toString
    val batch = df(1L -> "a", 2L -> "b")
    ManifestTable.merge(batch, root, Seq("id"))
    val first = readSet(root)
    ManifestTable.merge(batch, root, Seq("id"))
    assert(ManifestTable.currentVersion(root) == 2)
    assert(readSet(root) == first)
  }

  test("streaming upsert commits one snapshot per micro-batch through the transactional sink") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-manifest-stream").toString
    val root = s"$dir/t"
    val ckpt = s"$dir/ckpt" // checkpoint = micro-batches carry only NEW data
    val mem = MemoryStream[(Long, String)]
    mem.addData(1L -> "a", 2L -> "b")
    EventStream.upsertSinkTransactional(mem.toDF().toDF("id", "v"), root, Seq("id"))
      .option("checkpointLocation", ckpt)
      .start().processAllAvailable()
    assert(readSet(root) == Set(1L -> "a", 2L -> "b"))
    val v1 = ManifestTable.currentVersion(root)
    mem.addData(2L -> "B", 3L -> "c")
    EventStream.upsertSinkTransactional(mem.toDF().toDF("id", "v"), root, Seq("id"))
      .option("checkpointLocation", ckpt)
      .start().processAllAvailable()
    assert(ManifestTable.currentVersion(root) > v1)
    assert(readSet(root) == Set(1L -> "a", 2L -> "B", 3L -> "c"))
  }

  private def pdf(rows: (Long, String, String)*) = {
    import spark.implicits._
    rows.toDF("id", "day", "v")
  }

  private def readPSet(root: String): Set[(Long, String, String)] =
    ManifestTable.read(spark, root).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("day"), r.getAs[String]("v"))).toSet

  /** (relative path, size, mtime) of every data file the version references. */
  private def fileState(root: String, v: Int): Map[String, (Long, Long)] = {
    val manifest = Files.readAllLines(Paths.get(root, s"manifest-v$v.json"))
    manifest.toArray.map(_.toString).filter(l => l.nonEmpty && !l.startsWith("#")).map { line =>
      val rel = line.split('\t').last
      val f = new File(s"$root/$rel")
      rel -> (f.length(), f.lastModified())
    }.toMap
  }

  test("mergePartitioned rewrites only the batch's partitions; untouched files are " +
    "referenced, not copied, and stay byte-identical") {
    val root = Files.createTempDirectory("graft-manifest-part").toString
    val key = Seq("id", "day")
    ManifestTable.mergePartitioned(
      pdf((1L, "d1", "a"), (2L, "d2", "b"), (3L, "d3", "c")), root, key, "day")
    val before = fileState(root, 1)
    val d2Before = before.filter(_._1.contains("__part=d2"))
    val d3Before = before.filter(_._1.contains("__part=d3"))
    assert(d2Before.nonEmpty && d3Before.nonEmpty)

    // a batch touching ONLY d1
    ManifestTable.mergePartitioned(pdf((1L, "d1", "A"), (4L, "d1", "x")), root, key, "day")
    assert(ManifestTable.currentVersion(root) == 2)
    assert(readPSet(root) ==
      Set((1L, "d1", "A"), (4L, "d1", "x"), (2L, "d2", "b"), (3L, "d3", "c")))
    val after = fileState(root, 2)
    // untouched partitions: SAME relative paths (v1 files referenced by v2's
    // manifest — no rewrite), same bytes, same mtime
    (d2Before ++ d3Before).foreach { case (rel, st) =>
      assert(after.contains(rel), s"v2 manifest must reference untouched v1 file $rel")
      assert(after(rel) == st, s"untouched file $rel was modified")
    }
    // touched partition: new files under v2's (writer-unique) data dir
    assert(after.keys.exists(p => p.startsWith("data/v2-") && p.contains("__part=d1")))
    assert(after.keys.filter(_.contains("__part=d2")).forall(_.startsWith("data/v1-")),
      "untouched d2 must not be rewritten under a v2 data dir")
  }

  test("mergePartitioned crash before the pointer swap leaves the previous snapshot intact") {
    val root = Files.createTempDirectory("graft-manifest-part2").toString
    val key = Seq("id", "day")
    ManifestTable.mergePartitioned(pdf((1L, "d1", "a"), (2L, "d2", "b")), root, key, "day")
    // simulate a writer that wrote v2's data + manifest then died before
    // the atomic move (debris: partial partition dir + manifest + tmp ptr)
    Files.createDirectories(Paths.get(root, "data/v2/__part=d1"))
    Files.writeString(Paths.get(root, "data/v2/__part=d1/part-dead.parquet"), "garbage")
    Files.writeString(Paths.get(root, "manifest-v2.json"),
      "d1\tdata/v2/__part=d1/part-dead.parquet")
    Files.writeString(Paths.get(root, "_current.tmp-v2"), "2")

    assert(ManifestTable.currentVersion(root) == 1)
    assert(readPSet(root) == Set((1L, "d1", "a"), (2L, "d2", "b")))
    // CREATE_NEW: the next writer fails loudly on the debris; vacuum
    // recovers, then the merge lands and untouched d2 stays referenced
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.mergePartitioned(pdf((1L, "d1", "A")), root, key, "day")
    }
    ManifestTable.vacuum(root, orphanGraceMs = 0L)
    ManifestTable.mergePartitioned(pdf((1L, "d1", "A")), root, key, "day")
    assert(ManifestTable.currentVersion(root) == 2)
    assert(readPSet(root) == Set((1L, "d1", "A"), (2L, "d2", "b")))
  }

  test("mergePartitioned converts a legacy full-snapshot table, handles null " +
    "partitions, and is idempotent") {
    val root = Files.createTempDirectory("graft-manifest-part3").toString
    // v1: legacy unpartitioned commit
    ManifestTable.commit(pdf((1L, "d1", "a"), (2L, "d2", "b")), root)
    val key = Seq("id", "day")
    val batch = pdf((2L, "d2", "B"), (3L, null, "n"))
    ManifestTable.mergePartitioned(batch, root, key, "day")
    assert(readPSet(root) == Set((1L, "d1", "a"), (2L, "d2", "B"), (3L, null, "n")))
    // re-delivery of the same batch converges (snapshot N+1 == snapshot N)
    ManifestTable.mergePartitioned(batch, root, key, "day")
    assert(readPSet(root) == Set((1L, "d1", "a"), (2L, "d2", "B"), (3L, null, "n")))
    // key must contain the partition column
    assertThrows[IllegalArgumentException] {
      ManifestTable.mergePartitioned(batch, root, Seq("id"), "day")
    }
  }

  test("compact coalesces fragmented partitions to one file, keeps compact " +
    "partitions' files untouched, and preserves data + time travel") {
    import spark.implicits._
    val root = s"${Files.createTempDirectory("graft-manifest-compact")}/t"
    val key = Seq("id", "day")
    // d1's rows spread over 4 tasks -> several files; d2 stays one file
    val frag = (1L to 8L).map(i => (i, "d1", s"v$i")).toDF("id", "day", "v").repartition(4)
    // cluster = false: build the FRAGMENTED pre-r20 layout compact() repairs
    ManifestTable.mergePartitioned(frag, root, key, "day", cluster = false)
    ManifestTable.mergePartitioned(pdf((100L, "d2", "x")), root, key, "day")
    val v2 = ManifestTable.currentVersion(root)
    val before = fileState(root, v2)
    val d1Before = before.keys.filter(_.contains("__part=d1"))
    assert(d1Before.size >= 2, s"fixture should fragment d1: $before")
    val d2Before = before.filter(_._1.contains("__part=d2"))
    val dataBefore = readPSet(root)

    val v3 = ManifestTable.compact(spark, root, "day")
    assert(v3 == v2 + 1)
    val after = fileState(root, v3)
    assert(after.keys.count(_.contains("__part=d1")) == 1, after) // coalesced
    d2Before.foreach { case (rel, st) => assert(after(rel) == st) } // untouched entry
    assert(readPSet(root) == dataBefore) // same rows
    assert(ManifestTable.readVersion(spark, root, v2).count() == dataBefore.size) // time travel
    // idempotent: already-compact table -> no new version
    assert(ManifestTable.compact(spark, root, "day") == v3)
  }

  test("vacuum after compact keeps carried-forward files (still referenced by " +
    "the new manifest) and drops only the superseded fragments") {
    import spark.implicits._
    val root = s"${Files.createTempDirectory("graft-manifest-cv")}/t"
    val key = Seq("id", "day")
    val frag = (1L to 8L).map(i => (i, "d1", s"v$i")).toDF("id", "day", "v").repartition(4)
    // cluster = false: build the FRAGMENTED pre-r20 layout compact() repairs
    ManifestTable.mergePartitioned(frag, root, key, "day", cluster = false)
    ManifestTable.mergePartitioned(pdf((100L, "d2", "x")), root, key, "day")
    val v2 = ManifestTable.currentVersion(root)
    val fragFiles = fileState(root, v2).keys.filter(_.contains("__part=d1")).toSet
    val dataBefore = readPSet(root)
    val v3 = ManifestTable.compact(spark, root, "day")
    ManifestTable.vacuum(root, keepVersions = 1)
    // d2's file was written under v2 but carried forward into v3's
    // manifest — vacuum must treat it as referenced
    assert(readPSet(root) == dataBefore)
    assert(ManifestTable.currentVersion(root) == v3)
    // the superseded v2 fragments are gone
    fragFiles.foreach { rel =>
      assert(!Files.exists(Paths.get(s"$root/$rel")), rel)
    }
  }

  test("streaming upsert through the partition-scoped transactional sink") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-manifest-pstream").toString
    val root = s"$dir/t"
    val ckpt = s"$dir/ckpt"
    val mem = MemoryStream[(Long, String, String)]
    mem.addData((1L, "d1", "a"), (2L, "d2", "b"))
    EventStream.upsertSinkTransactionalPartitioned(
        mem.toDF().toDF("id", "day", "v"), root, Seq("id", "day"), "day")
      .option("checkpointLocation", ckpt)
      .start().processAllAvailable()
    assert(readPSet(root) == Set((1L, "d1", "a"), (2L, "d2", "b")))
    val v1 = ManifestTable.currentVersion(root)
    val d2Files = fileState(root, v1).filter(_._1.contains("__part=d2"))
    mem.addData((1L, "d1", "A"))
    EventStream.upsertSinkTransactionalPartitioned(
        mem.toDF().toDF("id", "day", "v"), root, Seq("id", "day"), "day")
      .option("checkpointLocation", ckpt)
      .start().processAllAvailable()
    assert(readPSet(root) == Set((1L, "d1", "A"), (2L, "d2", "b")))
    // the second micro-batch did not rewrite d2
    d2Files.foreach { case (rel, st) =>
      assert(fileState(root, ManifestTable.currentVersion(root))(rel) == st)
    }
  }

  test("mergePartitioned survives control-char partition values (manifest stores " +
    "the escaped dir-name form) and rejects the ambiguous empty/sentinel values") {
    val root = Files.createTempDirectory("graft-manifest-esc").toString
    val key = Seq("id", "day")
    // tab + newline + colon in partition values: Hive-escapes to %09/%0A/%3A
    // in the directory name; the manifest stores that escaped form so its
    // tab/newline-delimited format can't be corrupted
    val hostile = pdf((1L, "a\tb", "x"), (2L, "c\nd", "y"), (3L, "e:f", "z"))
    ManifestTable.mergePartitioned(hostile, root, key, "day")
    assert(readPSet(root) == Set((1L, "a\tb", "x"), (2L, "c\nd", "y"), (3L, "e:f", "z")))
    val manifest = Files.readString(Paths.get(root, "manifest-v1.json"))
    assert(!manifest.contains("a\tb") && !manifest.contains("c\nd"),
      "manifest must store escaped partition keys, not raw control chars")

    // touch ONLY the tab-valued partition: the others' files stay referenced
    val before = fileState(root, 1).filterNot(_._1.contains("%09"))
    ManifestTable.mergePartitioned(pdf((1L, "a\tb", "X")), root, key, "day")
    assert(readPSet(root) == Set((1L, "a\tb", "X"), (2L, "c\nd", "y"), (3L, "e:f", "z")))
    val after = fileState(root, 2)
    before.foreach { case (rel, st) => assert(after(rel) == st, s"$rel was rewritten") }

    // ambiguous values: "" and the null-partition sentinel both collide with
    // null's directory name -> rejected rather than silently merged
    assertThrows[IllegalArgumentException] {
      ManifestTable.mergePartitioned(pdf((9L, "", "e")), root, key, "day")
    }
    assertThrows[IllegalArgumentException] {
      ManifestTable.mergePartitioned(
        pdf((9L, "__HIVE_DEFAULT_PARTITION__", "e")), root, key, "day")
    }
  }

  test("a legacy (headerless, plain-key) manifest is migrated on read: a value that " +
    "merely LOOKS escaped is not double-unescaped, so its partition still merges") {
    val root = Files.createTempDirectory("graft-manifest-legacy").toString
    val key = Seq("id", "day")
    // "100%25" is a plain value containing a %XX-looking sequence — the
    // ADVICE r5 trap: a legacy manifest stored it verbatim, and an
    // unconditional unescape would read it back as "100%" and miss the
    // touched set, leaving stale rows next to the merged ones. The raw
    // ':' value is the PLAIN-ERA EVIDENCE (ADVICE r6): the escaped-era
    // headerless writer could never emit a raw escapable char, so its
    // presence classifies the whole manifest as plain-era and "100%25"
    // is escaped (not passed through as if it meant "100%").
    ManifestTable.mergePartitioned(
      pdf((1L, "100%25", "old"), (2L, "plain", "keep"), (3L, "e:f", "keep2")),
      root, key, "day")
    // rewrite manifest-v1 as a legacy writer would have: no format header,
    // partition keys in PLAIN (unescaped) form
    val m1 = Paths.get(root, "manifest-v1.json")
    val legacy = Files.readAllLines(m1).toArray.map(_.toString)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { line =>
        val Array(p, rel) = line.split('\t')
        s"${ManifestTable.unescapePathName(p)}\t$rel"
      }.mkString("\n")
    assert(legacy.contains("100%25\t"), "fixture must exercise the plain %XX-looking key")
    assert(legacy.contains("e:f\t"), "fixture must carry plain-era evidence (raw ':')")
    Files.writeString(m1, legacy)

    ManifestTable.mergePartitioned(pdf((1L, "100%25", "new")), root, key, "day")
    assert(readPSet(root) ==
      Set((1L, "100%25", "new"), (2L, "plain", "keep"), (3L, "e:f", "keep2")),
      "legacy partition must be recognized as touched — no stale duplicate row")
    // and compact() sees legacy + new entries of one value as ONE partition
    assert(ManifestTable.read(spark, root).where("day = '100%25'").count() == 1)
  }

  test("an ESCAPED-era headerless manifest (the r5 writer, pre-header) is NOT " +
    "re-escaped: a ':'-valued partition still merges instead of going stale") {
    val root = Files.createTempDirectory("graft-manifest-eschl").toString
    val key = Seq("id", "day")
    // ADVICE r6 high: the immediately-prior format wrote headerless
    // manifests with ESCAPED keys ("a:b" stored as "a%3Ab"). Re-escaping
    // those on read double-escapes ("a%253Ab"), isTouched's single
    // unescape misses the partition, and mergePartitioned leaves the old
    // row next to the merged one. With no raw-escapable evidence the
    // manifest must default to the escaped-era interpretation.
    ManifestTable.mergePartitioned(
      pdf((1L, "a:b", "old"), (2L, "plain", "keep")), root, key, "day")
    val m1 = Paths.get(root, "manifest-v1.json")
    // simulate the escaped-era writer: strip ONLY the header, keys stay escaped
    val headerless = Files.readAllLines(m1).toArray.map(_.toString)
      .filter(l => l.nonEmpty && !l.startsWith("#")).mkString("\n")
    assert(headerless.contains("a%3Ab\t"), "fixture must exercise an escaped-era key")
    Files.writeString(m1, headerless)

    ManifestTable.mergePartitioned(pdf((1L, "a:b", "new")), root, key, "day")
    assert(readPSet(root) == Set((1L, "a:b", "new"), (2L, "plain", "keep")),
      "escaped-era partition must be recognized as touched — no stale duplicate row")
    assert(ManifestTable.read(spark, root).where("day = 'a:b'").count() == 1,
      "compact/read must see one partition, not a plain and a double-escaped twin")
  }

  test("a lost cross-process race or crashed writer's orphan manifest makes the " +
    "next commit fail loudly (CREATE_NEW), and vacuum clears the orphan") {
    val root = Files.createTempDirectory("graft-manifest-orphan").toString
    val key = Seq("id", "day")
    ManifestTable.mergePartitioned(pdf((1L, "d1", "a")), root, key, "day")
    // simulate a writer that died between manifest write and pointer move
    Files.writeString(Paths.get(root, "manifest-v2.json"),
      s"${ManifestTable.FormatHeader}\nd9\tdata/v2/ghost.parquet")
    val ex = intercept[java.util.ConcurrentModificationException] {
      ManifestTable.mergePartitioned(pdf((2L, "d2", "b")), root, key, "day")
    }
    assert(ex.getMessage.contains("manifest-v2.json"))
    assert(ManifestTable.currentVersion(root) == 1, "failed commit must not move the pointer")
    // default vacuum AGE-GATES orphans: a fresh manifest above current may
    // be an in-flight cross-process commit, so it survives (ADVICE r7)...
    ManifestTable.vacuum(root)
    assert(Files.exists(Paths.get(root, "manifest-v2.json")),
      "a fresh orphan (possible in-flight commit) must survive default vacuum")
    // ...and only an explicit zero grace (single-writer recovery) clears it
    ManifestTable.vacuum(root, orphanGraceMs = 0L)
    assert(Files.notExists(Paths.get(root, "manifest-v2.json")), "vacuum clears orphans")
    ManifestTable.mergePartitioned(pdf((2L, "d2", "b")), root, key, "day")
    assert(readPSet(root) == Set((1L, "d1", "a"), (2L, "d2", "b")))
  }

  test("vacuum keeps the newest snapshots readable and drops unreferenced files") {
    val root = Files.createTempDirectory("graft-manifest4").toString
    ManifestTable.merge(df(1L -> "a"), root, Seq("id"))
    ManifestTable.merge(df(2L -> "b"), root, Seq("id"))
    ManifestTable.merge(df(3L -> "c"), root, Seq("id"))
    ManifestTable.vacuum(root, keepVersions = 1)
    assert(readSet(root) == Set(1L -> "a", 2L -> "b", 3L -> "c"))
    val v1Dirs = Option(new File(s"$root/data").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("v1-"))
    assert(v1Dirs.forall(d => Option(d.listFiles()).getOrElse(Array.empty).isEmpty),
      s"v1 data files must be vacuumed: ${v1Dirs.mkString(", ")}")
    assert(Files.notExists(Paths.get(root, "manifest-v1.json")))
    assert(Files.exists(Paths.get(root, "manifest-v3.json")))
  }

  test("schema evolution: a batch ADDING a column merges — old rows null-fill, " +
    "untouched partitions' narrow files are referenced unmodified, time travel " +
    "still reads the pre-evolution schema, and retyping is rejected") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-manifest-evo").toString
    val key = Seq("id", "day")
    ManifestTable.mergePartitioned(
      pdf((1L, "d1", "a"), (2L, "d2", "b")), root, key, "day")
    val narrowFiles = fileState(root, 1).filter(_._1.contains("__part=d2"))

    // v2: the batch carries a NEW column `score`, touching only d1
    val wide = Seq((1L, "d1", "A", 0.9), (3L, "d1", "x", 0.5))
      .toDF("id", "day", "v", "score")
    ManifestTable.mergePartitioned(wide, root, key, "day")
    val cur = ManifestTable.read(spark, root)
    assert(cur.columns.toSeq == Seq("id", "day", "v", "score"),
      s"union schema in canonical order, got ${cur.columns.toSeq}")
    val rows = cur.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("day"),
      r.getAs[String]("v"), Option(r.getAs[java.lang.Double]("score")))).toSet
    assert(rows == Set(
      (1L, "d1", "A", Some(0.9)), (3L, "d1", "x", Some(0.5)),
      (2L, "d2", "b", None)), s"old rows null-fill the new column: $rows")
    // untouched narrow partition: same files, not rewritten to the wide schema
    val after = fileState(root, 2)
    narrowFiles.foreach { case (rel, st) =>
      assert(after.get(rel).contains(st), s"untouched narrow file $rel rewritten")
    }
    // time travel reads v1 with its own (pre-evolution) schema
    assert(ManifestTable.readVersion(spark, root, 1).columns.toSeq == Seq("id", "day", "v"))

    // v3: a NARROW batch (no `score`) still merges; whole-row semantics
    // replace the matched row, so its score becomes null
    ManifestTable.mergePartitioned(pdf((1L, "d1", "A3")), root, key, "day")
    val v3 = ManifestTable.read(spark, root).collect()
      .map(r => (r.getAs[Long]("id"), Option(r.getAs[java.lang.Double]("score")))).toMap
    assert(v3(1L).isEmpty && v3(3L).contains(0.5), s"whole-row replace: $v3")

    // retyping a column is a migration, not evolution — rejected loudly
    val retyped = Seq((9L, "d1", 123)).toDF("id", "day", "v")
    val e = intercept[IllegalArgumentException] {
      ManifestTable.mergePartitioned(retyped, root, key, "day")
    }
    assert(e.getMessage.contains("retyping") && e.getMessage.contains("v"),
      e.getMessage)
  }

  test("two SAME-PROCESS writers merging different partitions concurrently both " +
    "land: the JVM-local synchronized serializes them (cross-process safety is " +
    "the CREATE_NEW + rebase protocol, covered by the race specs below)") {
    val root = Files.createTempDirectory("graft-manifest-conc").toString
    val key = Seq("id", "day")
    ManifestTable.mergePartitioned(pdf((1L, "d1", "a"), (2L, "d2", "b")), root, key, "day")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val w1 = Future(ManifestTable.mergePartitioned(pdf((1L, "d1", "A2")), root, key, "day"))
    val w2 = Future(ManifestTable.mergePartitioned(pdf((3L, "d3", "c")), root, key, "day"))
    val (v1, v2) = (Await.result(w1, Duration.Inf), Await.result(w2, Duration.Inf))
    assert(Set(v1, v2) == Set(2, 3), s"writers must take distinct versions, got $v1/$v2")
    assert(ManifestTable.currentVersion(root) == 3)
    assert(readPSet(root) == Set((1L, "d1", "A2"), (2L, "d2", "b"), (3L, "d3", "c")),
      "both writers' partitions and the untouched one must all survive")
  }

  test("cross-process-shaped race on DISJOINT partitions: the losing writer " +
    "REBASES onto the winner's commit and BOTH merges land") {
    val root = Files.createTempDirectory("graft-manifest-rebase").toString
    val key = Seq("id", "day")
    ManifestTable.mergePartitioned(pdf((1L, "d1", "a"), (2L, "d2", "b")), root, key, "day")
    // writer A merges d1; in the window between A's data write and its
    // commit (where a real cross-process race lands), writer B commits a
    // d3 merge and wins version 2
    ManifestTable.raceHookForTests = () => {
      ManifestTable.raceHookForTests = () => ()
      ManifestTable.mergePartitioned(pdf((3L, "d3", "c")), root, key, "day"): Unit
    }
    try {
      val v = ManifestTable.mergePartitioned(pdf((1L, "d1", "A")), root, key, "day")
      assert(v == 3, s"the loser must rebase onto v2 and commit v3, got $v")
    } finally ManifestTable.raceHookForTests = () => ()
    assert(ManifestTable.currentVersion(root) == 3)
    assert(readPSet(root) ==
      Set((1L, "d1", "A"), (2L, "d2", "b"), (3L, "d3", "c")),
      "both racing writers' partitions and the untouched one must all survive")
  }

  test("cross-process-shaped race on the SAME partition: the loser ABORTS loudly " +
    "naming the overlapping partition; the winner's commit is untouched") {
    val root = Files.createTempDirectory("graft-manifest-rebase2").toString
    val key = Seq("id", "day")
    ManifestTable.mergePartitioned(pdf((1L, "d1", "a"), (2L, "d2", "b")), root, key, "day")
    ManifestTable.raceHookForTests = () => {
      ManifestTable.raceHookForTests = () => ()
      ManifestTable.mergePartitioned(pdf((9L, "d1", "winner")), root, key, "day"): Unit
    }
    val ex = try {
      intercept[java.util.ConcurrentModificationException] {
        ManifestTable.mergePartitioned(pdf((1L, "d1", "loser")), root, key, "day")
      }
    } finally ManifestTable.raceHookForTests = () => ()
    assert(ex.getMessage.contains("d1"), ex.getMessage)
    assert(ManifestTable.currentVersion(root) == 2, "the loser must not commit")
    assert(readPSet(root) == Set((1L, "d1", "a"), (9L, "d1", "winner"), (2L, "d2", "b")),
      "the winner's merge result must be exactly what readers see")
  }

  test("history lists retained commits newest-first with file/partition counts; " +
    "readAsOf time-travels by timestamp and refuses a pre-table timestamp") {
    val root = Files.createTempDirectory("graft-manifest-hist").toString
    val key = Seq("id", "day")
    ManifestTable.mergePartitioned(pdf((1L, "d1", "a")), root, key, "day")
    ManifestTable.mergePartitioned(pdf((2L, "d2", "b")), root, key, "day")
    ManifestTable.mergePartitioned(pdf((1L, "d1", "A")), root, key, "day")
    // pin distinct commit timestamps so the AS OF cuts are unambiguous
    Seq(1 -> 1000L, 2 -> 2000L, 3 -> 3000L).foreach { case (v, t) =>
      java.nio.file.Files.setLastModifiedTime(Paths.get(root, s"manifest-v$v.json"),
        java.nio.file.attribute.FileTime.fromMillis(t))
    }
    val h = ManifestTable.history(root)
    assert(h.map(_.version) == Seq(3, 2, 1), h.toString)
    assert(h.map(_.timestamp) == Seq(3000L, 2000L, 1000L))
    assert(h.find(_.version == 2).get.nPartitions == 2) // d1 + d2
    // AS OF: between v2 and v3 → v2's content; at v3 → current
    val atV2 = ManifestTable.readAsOf(spark, root, 2500L).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).toSet
    assert(atV2 == Set(1L -> "a", 2L -> "b"))
    val atV3 = ManifestTable.readAsOf(spark, root, 3000L).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).toSet
    assert(atV3 == Set(1L -> "A", 2L -> "b"))
    assertThrows[IllegalArgumentException] {
      ManifestTable.readAsOf(spark, root, 999L) // predates the table
    }
    // vacuumed versions drop out of history; AS OF then refuses them too
    ManifestTable.vacuum(root, keepVersions = 1, orphanGraceMs = 0L)
    assert(ManifestTable.history(root).map(_.version) == Seq(3))
    assertThrows[IllegalArgumentException] {
      ManifestTable.readAsOf(spark, root, 2500L)
    }
  }

  test("compact racing a DISJOINT-partition merge rebases like a writer: both " +
    "the compaction and the merge land") {
    import spark.implicits._
    val root = s"${Files.createTempDirectory("graft-manifest-cr")}/t"
    val key = Seq("id", "day")
    val frag = (1L to 8L).map(i => (i, "d1", s"v$i")).toDF("id", "day", "v").repartition(4)
    // cluster = false: build the FRAGMENTED pre-r20 layout compact() repairs
    ManifestTable.mergePartitioned(frag, root, key, "day", cluster = false)
    val vBefore = ManifestTable.currentVersion(root)
    ManifestTable.raceHookForTests = () => {
      ManifestTable.raceHookForTests = () => ()
      ManifestTable.mergePartitioned(pdf((100L, "d2", "x")), root, key, "day"): Unit
    }
    try {
      val v = ManifestTable.compact(spark, root, "day")
      assert(v == vBefore + 2, s"compact must rebase past the racing merge, got $v")
    } finally ManifestTable.raceHookForTests = () => ()
    val rows = readPSet(root)
    assert(rows == ((1L to 8L).map(i => (i, "d1", s"v$i")).toSet + ((100L, "d2", "x"))),
      "both the compacted partition and the racing merge's partition must survive")
    val d1Files = fileState(root, ManifestTable.currentVersion(root))
      .keys.count(_.contains("__part=d1"))
    assert(d1Files == 1, s"d1 must be compacted to one file, got $d1Files")
  }

  test("readChanges classifies insert/update/delete between versions, reads ONLY " +
    "changed partitions, and a compaction (same rows, new files) diffs to zero") {
    val root = s"${Files.createTempDirectory("graft-manifest-cdc")}/t"
    val key = Seq("id", "day")
    ManifestTable.mergePartitioned(
      pdf((1L, "d1", "a"), (2L, "d2", "b"), (3L, "d3", "c")), root, key, "day")
    ManifestTable.mergePartitioned(
      pdf((1L, "d1", "A"), (4L, "d4", "d")), root, key, "day") // update + insert
    val ch12 = ManifestTable.readChanges(spark, root, 1, 2, key)
    // d2/d3 untouched between v1 and v2: manifest pruning must keep their
    // files out of the scan entirely, not just out of the result
    assert(ch12.inputFiles.forall(f => !f.contains("__part=d2") && !f.contains("__part=d3")),
      s"untouched partitions leaked into the CDC scan: ${ch12.inputFiles.toSeq}")
    assert(ch12.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v"),
      r.getAs[String]("_change_type"))).toSet ==
      Set((1L, "A", "update_postimage"), (4L, "d", "insert")))
    // bootstrap: fromV=0 reads the whole snapshot as inserts
    val boot = ManifestTable.readChanges(spark, root, 0, 1, key)
    assert(boot.collect().map(_.getAs[String]("_change_type")).toSet == Set("insert"))
    assert(boot.count() == 3)
    // same version → empty, correct shape
    val same = ManifestTable.readChanges(spark, root, 2, 2, key)
    assert(same.isEmpty && same.columns.last == "_change_type")
    // compaction rewrites files without changing rows: row-level diff is 0
    ManifestTable.mergePartitioned(
      pdf((5L, "d5", "e"), (6L, "d5", "f"), (7L, "d5", "g"), (8L, "d5", "h"))
        .repartition(4), root, key, "day", cluster = false)
    val vPre = ManifestTable.currentVersion(root)
    val vPost = ManifestTable.compact(spark, root, "day")
    assert(vPost > vPre, "d5 holds 4 files; compact must produce a new version")
    assert(ManifestTable.readChanges(spark, root, vPre, vPost, key).isEmpty,
      "compaction must be invisible at the row level")
    // a vacuumed fromV refuses instead of answering from the wrong base
    ManifestTable.vacuum(root, keepVersions = 1, orphanGraceMs = 0L)
    assertThrows[IllegalArgumentException] {
      ManifestTable.readChanges(spark, root, 1, vPost, key)
    }
  }

  test("readChanges pairs rows by NULL-SAFE key equality and surfaces deletes " +
    "across full-snapshot commits") {
    import spark.implicits._
    val root = s"${Files.createTempDirectory("graft-manifest-cdc2")}/t"
    // full-snapshot commits CAN drop rows — the delete path
    ManifestTable.commit(Seq((1L, "x"), (2L, "y")).toDF("id", "v"), root)
    ManifestTable.commit(Seq((1L, "x"), (3L, "z")).toDF("id", "v"), root)
    val ch = ManifestTable.readChanges(spark, root, 1, 2, Seq("id")).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("_change_type"))).toSet
    assert(ch == Set((2L, "delete"), (3L, "insert")),
      "unchanged row 1 must drop out; 2 deleted; 3 inserted")
    // null keys: (null,"p") at v1 → (null,"q") at v2 is ONE update, not
    // an unmatched delete+insert pair
    val root2 = s"${Files.createTempDirectory("graft-manifest-cdc3")}/t"
    ManifestTable.commit(
      Seq((Option.empty[Long], "p"), (Some(7L), "r")).toDF("id", "v"), root2)
    ManifestTable.commit(
      Seq((Option.empty[Long], "q"), (Some(7L), "r")).toDF("id", "v"), root2)
    val ch2 = ManifestTable.readChanges(spark, root2, 1, 2, Seq("id")).collect()
      .map(r => (Option(r.get(r.fieldIndex("id"))), r.getAs[String]("v"),
        r.getAs[String]("_change_type"))).toSet
    assert(ch2 == Set((None, "q", "update_postimage")))
  }

  test("readChanges preimages=true emits a matched update_preimage/postimage " +
    "pair per update (Delta-CDF event set)") {
    val root = s"${Files.createTempDirectory("graft-cdc-pre")}/t"
    val key = Seq("id", "day")
    ManifestTable.mergePartitioned(pdf((1L, "d1", "a"), (2L, "d1", "b")), root, key, "day")
    ManifestTable.mergePartitioned(pdf((1L, "d1", "A"), (3L, "d1", "c")), root, key, "day")
    val ev = ManifestTable.readChanges(spark, root, 1, 2, key, preimages = true)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v"),
        r.getAs[String]("_change_type"))).toSet
    assert(ev == Set(
      (1L, "a", "update_preimage"), (1L, "A", "update_postimage"),
      (3L, "c", "insert")), ev.toString)
    assert(IncrementalView.hasPreimageContract(
      ManifestTable.readChanges(spark, root, 1, 2, key, preimages = true)))
    assert(!IncrementalView.hasPreimageContract(
      ManifestTable.readChanges(spark, root, 1, 2, key)))
  }

  test("IncrementalView: CDC-maintained count/sum state equals a full recompute " +
    "after updates, inserts and full-snapshot deletes; retracted groups drop out; " +
    "the state side is never shuffled (delta broadcasts)") {
    import spark.implicits._
    val root = s"${Files.createTempDirectory("graft-mv")}/t"
    val key = Seq("id", "day")
    def doc(id: Long, day: String, x: Long) = (id, day, x)
    val v1 = Seq(doc(1, "d1", 10), doc(2, "d1", 20), doc(3, "d2", 30))
      .toDF("id", "day", "x")
    ManifestTable.mergePartitioned(v1, root, key, "day")
    var state = IncrementalView.compute(
      ManifestTable.read(spark, root), Seq("day"), "x").localCheckpoint()
    // v2: update one d1 row, insert a d3 row
    ManifestTable.mergePartitioned(
      Seq(doc(1, "d1", 15), doc(4, "d3", 40)).toDF("id", "day", "x"), root, key, "day")
    // v3: another d1-only merge
    ManifestTable.mergePartitioned(
      Seq(doc(2, "d1", 25)).toDF("id", "day", "x"), root, key, "day")
    state = IncrementalView.refresh(state, root, 1, 3, key, Seq("day"), "x")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[String]("day") -> ((r.getAs[Long]("n_rows"), r.getAs[Long]("sum_x"))))
      .toMap
    val truth = asMap(IncrementalView.compute(ManifestTable.read(spark, root), Seq("day"), "x"))
    assert(asMap(state) == truth, s"incremental $state vs recompute $truth")
    assert(truth == Map("d1" -> ((2L, 40L)), "d2" -> ((1L, 30L)), "d3" -> ((1L, 40L))))
    // plan: the maintained state joins a BROADCAST delta, never a shuffle.
    // Checkpoint the inputs so the plan shows maintain's OWN joins, not
    // the upstream CDC diff (whose full-outer pairing join is scoped to
    // changed slices by design)
    val ch = ManifestTable.readChanges(spark, root, 2, 3, key, preimages = true)
      .localCheckpoint()
    val plan = IncrementalView.maintain(state.localCheckpoint(), ch, Seq("day"), "x")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // full-snapshot commit dropping every d2 row: the group retracts
    val rows = ManifestTable.read(spark, root).where($"day" =!= "d2")
    val vPre = ManifestTable.currentVersion(root)
    ManifestTable.commit(rows.localCheckpoint(), root)
    val st2 = IncrementalView.refresh(
      state, root, vPre, vPre + 1, Seq("id"), Seq("day"), "x")
    assert(asMap(st2) == truth - "d2", s"d2 must retract fully: ${asMap(st2)}")
  }

  test("end-to-end: streaming micro-batches through the transactional sink, a " +
    "CDC-maintained aggregate view refreshed per commit tracks the stream " +
    "exactly (stream → MERGE → readChanges → IncrementalView)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-mv").toString
    val root = s"$dir/t"
    val ckpt = s"$dir/ckpt"
    val key = Seq("id", "day")
    def drain(mem: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)]): Unit =
      graft.streaming.EventStream.upsertSinkTransactionalPartitioned(
          mem.toDF().toDF("id", "day", "x"), root, key, "day")
        .option("checkpointLocation", ckpt)
        .start().processAllAvailable()
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)]
    mem.addData((1L, "d1", 10L), (2L, "d2", 20L))
    drain(mem)
    val viewAt = ManifestTable.currentVersion(root)
    var view = IncrementalView.compute(
      ManifestTable.read(spark, root), Seq("day"), "x").localCheckpoint()
    // two more micro-batch commits: an update and a new partition
    mem.addData((1L, "d1", 15L))
    mem.addData((3L, "d3", 30L))
    drain(mem)
    val head = ManifestTable.currentVersion(root)
    assert(head > viewAt, "the stream must have committed new versions")
    view = IncrementalView.refresh(view, root, viewAt, head, key, Seq("day"), "x")
    val got = view.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = IncrementalView.compute(
      ManifestTable.read(spark, root), Seq("day"), "x").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"view $got must track the streamed table $want")
    assert(got == Set(("d1", 1L, 15L), ("d2", 1L, 20L), ("d3", 1L, 30L)), got.toString)
  }

  test("restore rolls the table back METADATA-ONLY: content equals the target " +
    "version, history is preserved, CDC yields the undo events, and vacuum " +
    "keeps the restored files alive") {
    val root = s"${Files.createTempDirectory("graft-restore")}/t"
    val key = Seq("id", "day")
    ManifestTable.mergePartitioned(pdf((1L, "d1", "a"), (2L, "d2", "b")), root, key, "day")
    ManifestTable.mergePartitioned(pdf((1L, "d1", "BAD"), (9L, "d9", "junk")), root, key, "day")
    val filesBefore = fileState(root, 1).keySet ++ fileState(root, 2).keySet
    val v3 = ManifestTable.restore(root, 1)
    assert(v3 == 3, "restore commits a NEW version")
    assert(readPSet(root) == Set((1L, "d1", "a"), (2L, "d2", "b")))
    // metadata-only: the new head references v1's existing files verbatim
    assert(fileState(root, 3).keySet == fileState(root, 1).keySet)
    assert(fileState(root, 3).keySet.subsetOf(filesBefore))
    // the bad commit stays readable for forensics
    assert(ManifestTable.readVersion(spark, root, 2).count() == 3)
    assert(ManifestTable.history(root).map(_.version) == Seq(3, 2, 1))
    // CDC across the restore = the undo events
    val undo = ManifestTable.readChanges(spark, root, 2, 3, key).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"),
        r.getAs[String]("_change_type"))).toSet
    assert(undo == Set((1L, "a", "update_postimage"), (9L, "junk", "delete")), undo.toString)
    // restoring to the current version is a no-op
    assert(ManifestTable.restore(root, 3) == 3)
    assertThrows[IllegalArgumentException](ManifestTable.restore(root, 99))
    // vacuum to head only: restored data files survive (the head references them)
    ManifestTable.vacuum(root, keepVersions = 1, orphanGraceMs = 0L)
    assert(readPSet(root) == Set((1L, "d1", "a"), (2L, "d2", "b")),
      "vacuum must not delete files the restored head references")
    assertThrows[IllegalArgumentException](ManifestTable.restore(root, 2)) // vacuumed
  }

  /** (rel → (lo, hi)) for every stats-carrying line of version v. */
  private def statsOf(root: String, v: Int): Map[String, (String, String)] =
    Files.readAllLines(Paths.get(root, s"manifest-v$v.json")).toArray.map(_.toString)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .flatMap { l =>
        l.split('\t') match {
          case Array(_, rel, lo, hi) => Some(rel -> ((lo, hi)))
          case _                     => None
        }
      }.toMap

  test("file-level stats + readWhere data skipping: a range query opens ONLY " +
    "files whose recorded min/max intersects it, the stats column is sticky " +
    "across merges, untouched partitions keep their stats, and results stay " +
    "EXACT (row-level re-filter)") {
    import spark.implicits._
    val root = s"${Files.createTempDirectory("graft-stats")}/t"
    val key = Seq("id", "day")
    def batch(day: String, xs: Range) =
      xs.map(i => (i.toLong, day, i.toLong)).toDF("id", "day", "x")
    ManifestTable.mergePartitioned(
      batch("d1", 0 until 100).union(batch("d2", 100 until 200)),
      root, key, "day", statsCol = Some("x"))
    // sticky: the second merge inherits the stats column from the header
    ManifestTable.mergePartitioned(batch("d3", 200 until 300), root, key, "day")
    val v = ManifestTable.currentVersion(root)
    val st = statsOf(root, v)
    assert(st.nonEmpty && st.values.forall { case (lo, hi) => lo.toLong <= hi.toLong })
    // d1's entries were carried forward by the d3 merge WITH their stats
    assert(st.keys.exists(_.contains("__part=d1")), st.toString)
    // pruning: a range inside d2 touches no d1/d3 file
    val mid = ManifestTable.readWhere(spark, root, 150, 160)
    assert(mid.inputFiles.forall(f => f.contains("__part=d2")),
      s"pruning must drop d1/d3 files: ${mid.inputFiles.toSeq}")
    assert(mid.collect().map(_.getAs[Long]("x")).sorted.toSeq == (150L to 160L))
    // exactness vs the unpruned read
    val full = ManifestTable.read(spark, root).where($"x" >= 150 && $"x" <= 160)
    assert(mid.count() == full.count())
    // stats survive compact (recomputed for rewritten files)
    ManifestTable.mergePartitioned(batch("d1", 50 until 60), root, key, "day")
    val vc = ManifestTable.compact(spark, root, "day")
    assert(vc > v, "d1 must have been fragmented and compacted")
    assert(statsOf(root, vc).keys.exists(_.contains("__part=d1")),
      "compacted d1 file must carry recomputed stats")
    assert(ManifestTable.readWhere(spark, root, 0, 10).inputFiles
      .forall(f => f.contains("__part=d1")))
    // restore keeps the stats header alive
    ManifestTable.restore(root, v)
    assert(ManifestTable.readWhere(spark, root, 250, 260).count() == 11)
    // a table with no declared stats column refuses readWhere
    val plain = s"${Files.createTempDirectory("graft-nostats")}/t"
    ManifestTable.mergePartitioned(batch("d1", 0 until 5), plain, key, "day")
    assertThrows[IllegalArgumentException] {
      ManifestTable.readWhere(spark, plain, 0, 1)
    }
    // a non-numeric stats column is rejected at write time
    assertThrows[IllegalArgumentException] {
      ManifestTable.mergePartitioned(batch("d9", 0 until 5),
        s"${Files.createTempDirectory("graft-badstats")}/t", key, "day",
        statsCol = Some("day"))
    }
  }

  test("commitClustered: range-clustered layout makes stats DISJOINT so a " +
    "narrow readWhere opens ~1 file, where the same data round-robin keeps " +
    "every file; answers identical") {
    import spark.implicits._
    // shuffled uniform data: every round-robin file spans the full range
    val rows = scala.util.Random.shuffle((0L until 8000L).toList)
      .map(i => (i, i)).toDF("id", "x")
    val flat = s"${Files.createTempDirectory("graft-flat")}/t"
    ManifestTable.commit(rows.repartition(8), flat, statsCol = Some("x"))
    val clus = s"${Files.createTempDirectory("graft-clustered")}/t"
    ManifestTable.commitClustered(rows, clus, "x", numFiles = 8)
    val stF = statsOf(flat, 1)
    val stC = statsOf(clus, 1)
    assert(stF.size == 8 && stC.size == 8)
    // clustered stats are disjoint: total covered width == data width;
    // round-robin files each cover (nearly) everything
    def width(st: Map[String, (String, String)]) =
      st.values.map { case (lo, hi) => hi.toLong - lo.toLong }.sum
    assert(width(stC) < 8100, s"clustered ranges must tile the domain: $stC")
    assert(width(stF) > 8000L * 4, s"round-robin ranges must overlap: $stF")
    val narrowC = ManifestTable.readWhere(spark, clus, 4000, 4099)
    val narrowF = ManifestTable.readWhere(spark, flat, 4000, 4099)
    assert(narrowC.inputFiles.length <= 2,
      s"clustered read must skip to ~1 file: ${narrowC.inputFiles.length}")
    assert(narrowF.inputFiles.length == 8,
      "overlapping layout cannot skip anything")
    assert(narrowC.collect().map(_.getAs[Long]("x")).sorted.toSeq ==
      (4000L to 4099L))
    assert(narrowF.count() == narrowC.count())
  }

  test("commitZOrdered: Morton-interleave layout + two-column stats let a 2-D " +
    "box prune on BOTH dimensions; a 1-D clustered layout with the same " +
    "declared stats prunes only on its sort column; answers identical") {
    import spark.implicits._
    // Morton pin: x=3 (0b011) ⊗ y=5 (0b101) interleaves to 0b100111 = 39
    val m = spark.range(1)
      .select(ManifestTable.mortonInterleave(lit(3L), lit(5L)).as("z"))
      .head().getLong(0)
    assert(m == 39L, s"mortonInterleave(3,5) must be 39, got $m")

    // x and y independent pseudo-shuffles of 0..4095: no correlation a
    // 1-D sort could exploit on the other column
    val rows = spark.range(0, 4096).select(
      (($"id" * 2654435761L) % 4096).as("x"),
      (($"id" * 40503L) % 4096).as("y"),
      $"id".as("payload"))
    val zroot = s"${Files.createTempDirectory("graft-zorder")}/t"
    ManifestTable.commitZOrdered(rows, zroot, "x", "y", numFiles = 64)
    // 1-D baseline clustered by x, but declaring the SAME two stats
    // columns — the layout, not the metadata, is what differs
    val xroot = s"${Files.createTempDirectory("graft-xorder")}/t"
    ManifestTable.commitSnapshot(
      rows.repartitionByRange(64, $"x").sortWithinPartitions($"x"),
      xroot, Seq("x", "y"))

    // two-column manifest lines: part, rel, loX, hiX, loY, hiY
    val line = Files.readAllLines(
        Paths.get(zroot, "manifest-v1.json")).toArray.map(_.toString)
      .find(l => l.nonEmpty && !l.startsWith("#")).get
    assert(line.split('\t').length == 6, s"expected 6 fields: $line")

    val box = Seq(("x", 0L, 511L), ("y", 0L, 511L)) // a 1/8 × 1/8 tile
    val zRead = ManifestTable.readWhereBox(spark, zroot, box)
    val xRead = ManifestTable.readWhereBox(spark, xroot, box)
    // 64 z-files tile 8×8 in (x, y): the box lands in ~1 tile (+ edge
    // neighbours); the x-sorted layout keeps every file whose x-slice
    // meets [0, 511] — 1/8 of 64 ≈ 8 — because each such file's y range
    // spans the whole domain
    assert(zRead.inputFiles.length <= 4,
      s"z-order must keep ~1 tile, got ${zRead.inputFiles.length}")
    assert(xRead.inputFiles.length >= zRead.inputFiles.length * 2,
      s"1-D layout must open ≥2× the files of z-order on a 2-D box: " +
        s"x=${xRead.inputFiles.length} z=${zRead.inputFiles.length}")
    // exactness: both equal the unpruned filter
    val expect = rows.where($"x" <= 511 && $"y" <= 511)
      .select($"payload").collect().map(_.getLong(0)).sorted.toSeq
    assert(zRead.select($"payload").collect().map(_.getLong(0)).sorted.toSeq == expect)
    assert(xRead.select($"payload").collect().map(_.getLong(0)).sorted.toSeq == expect)
    // a bound on an undeclared column is refused loudly (no silent scan)
    assertThrows[IllegalArgumentException] {
      ManifestTable.readWhereBox(spark, zroot, Seq(("payload", 0L, 1L)))
    }
  }

  test("stats-free files (declared AFTER their commit) are never pruned — " +
    "conservative skipping keeps old generations correct") {
    import spark.implicits._
    val root = s"${Files.createTempDirectory("graft-stats-mixed")}/t"
    val key = Seq("id", "day")
    def batch(day: String, xs: Range) =
      xs.map(i => (i.toLong, day, i.toLong)).toDF("id", "day", "x")
    ManifestTable.mergePartitioned(batch("d1", 0 until 10), root, key, "day")
    // declare stats only on the SECOND merge: d1's files stay stats-free
    ManifestTable.mergePartitioned(batch("d2", 100 until 110), root, key, "day",
      statsCol = Some("x"))
    val pruned = ManifestTable.readWhere(spark, root, 500, 600)
    // d2's file is skippable (100..109 misses 500..600); d1's is not
    assert(pruned.inputFiles.exists(_.contains("__part=d1")),
      "stats-free d1 files must still be read")
    assert(pruned.inputFiles.forall(f => !f.contains("__part=d2")),
      s"d2 must be pruned by its stats: ${pruned.inputFiles.toSeq}")
    assert(pruned.count() == 0, "row-level filter keeps the answer exact")
    // an ALL-NULL stats column in a file → no stats recorded → never
    // pruned, and the row filter keeps the answer exact (nulls never
    // match a BETWEEN)
    ManifestTable.mergePartitioned(
      Seq((900L, "d3", Option.empty[Long]), (901L, "d3", Option.empty[Long]))
        .toDF("id", "day", "x"),
      root, key, "day")
    val v = ManifestTable.currentVersion(root)
    assert(!statsOf(root, v).keys.exists(_.contains("__part=d3")),
      "all-null file must carry no stats")
    val wide = ManifestTable.readWhere(spark, root, 0, 1000)
    assert(wide.inputFiles.exists(_.contains("__part=d3")),
      "stats-free d3 must be read")
    assert(wide.count() == 20, "null-x rows drop out row-level; 10+10 survive")
  }

  test("a merge batch MISSING A KEY COLUMN fails loudly instead of null-filling " +
    "the key and collapsing rows (schema evolution adds non-key columns only)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-manifest-keyguard").toString
    ManifestTable.merge(df(1L -> "a"), root, Seq("id"))
    val noKey = Seq("zz").toDF("v") // carries v but not the id key
    val e = intercept[IllegalArgumentException] {
      ManifestTable.merge(noKey, root, Seq("id"))
    }
    assert(e.getMessage.contains("id"), e.getMessage)
    assert(readSet(root) == Set(1L -> "a"), "the rejected merge must not commit")

    val root2 = Files.createTempDirectory("graft-manifest-keyguard2").toString
    val pkey = Seq("id", "day")
    ManifestTable.mergePartitioned(pdf((1L, "d1", "a")), root2, pkey, "day")
    val noKey2 = Seq(("d1", "x")).toDF("day", "v") // day present, id missing
    val e2 = intercept[IllegalArgumentException] {
      ManifestTable.mergePartitioned(noKey2, root2, pkey, "day")
    }
    assert(e2.getMessage.contains("id"), e2.getMessage)
  }

  test("readPartitions lists ONLY the named partitions' files (metadata-" +
    "decided read amplification), returns empty-in-schema for a miss, and " +
    "matches a filtered full read") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-readparts").toString
    ManifestTable.mergePartitioned(
      Seq((1L, "d1", "a"), (2L, "d2", "b"), (3L, "d3", "c"))
        .toDF("id", "day", "v"), root, Seq("id", "day"), "day")
    val one = ManifestTable.readPartitions(spark, root, Set("d2"))
    assert(one.as[(Long, String, String)].collect().toSet == Set((2L, "d2", "b")))
    assert(one.inputFiles.forall(_.contains("__part=d2")), one.inputFiles.toSeq)
    val none = ManifestTable.readPartitions(spark, root, Set("nope"))
    assert(none.count() == 0L && none.columns.toSeq == Seq("id", "day", "v"))
    val two = ManifestTable.readPartitions(spark, root, Set("d1", "d3"))
    assert(two.count() == 2L)
  }

  test("rewriteWhere purges dead rows partition-scoped: only partitions " +
    "holding a violating row rewrite (untouched entries carried verbatim), " +
    "a fully-dead partition leaves the manifest, a clean table no-ops") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-rewrite").toString
    ManifestTable.mergePartitioned(
      Seq((1L, "d1", true), (2L, "d1", false), (3L, "d2", true),
        (4L, "d3", false), (5L, "d3", false))
        .toDF("id", "day", "live"), root, Seq("id", "day"), "day")
    val v1 = ManifestTable.currentVersion(root)
    val entriesBefore = ManifestTable.read(spark, root).inputFiles.toSet
    val v2 = ManifestTable.rewriteWhere(spark, root, "day", $"live")
    assert(v2 == v1 + 1)
    assert(ManifestTable.read(spark, root).as[(Long, String, Boolean)]
      .collect().toSet == Set((1L, "d1", true), (3L, "d2", true)),
      "dead rows gone, live rows intact")
    // d2 had no dead rows: its files must be the SAME files (no rewrite)
    val entriesAfter = ManifestTable.read(spark, root).inputFiles.toSet
    assert((entriesBefore & entriesAfter).forall(_.contains("__part=d2")))
    assert(entriesAfter.exists(_.contains("__part=d2")))
    // d3 was fully dead: no files for it remain in the manifest
    assert(!entriesAfter.exists(_.contains("__part=d3")), entriesAfter.toSeq)
    // nothing dead left: the next purge is a metadata no-op
    assert(ManifestTable.rewriteWhere(spark, root, "day", $"live") == v2)
    // time travel still sees the pre-purge snapshot
    assert(ManifestTable.readVersion(spark, root, v1).count() == 5L)
  }

  test("rewriteWhere on a FULLY-dead table commits a manifest with no files " +
    "whose recorded schema keeps the table readable and mergeable") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-rewrite-alldead").toString
    ManifestTable.mergePartitioned(
      Seq((1L, "d1", false), (2L, "d2", false)).toDF("id", "day", "live"),
      root, Seq("id", "day"), "day")
    val v1 = ManifestTable.currentVersion(root)
    // every row of every partition violates `keep`: the purge commits a
    // version that lists no files
    assert(ManifestTable.rewriteWhere(spark, root, "day", $"live") == v1 + 1)
    assert(ManifestTable.read(spark, root).inputFiles.isEmpty)
    assert(ManifestTable.read(spark, root).columns.toSeq == Seq("id", "day", "live"))
    assert(ManifestTable.read(spark, root).isEmpty)
    ManifestTable.mergePartitioned(Seq((3L, "d1", true)).toDF("id", "day", "live"),
      root, Seq("id", "day"), "day")
    assert(ManifestTable.read(spark, root).as[(Long, String, Boolean)].collect().toSeq ==
      Seq((3L, "d1", true)))
  }

  test("rewriteWhere on a FULLY-dead table whose manifest records no schema " +
    "infers it from the dead files and records it in the empty commit") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-rewrite-alldead-legacy").toString
    ManifestTable.mergePartitioned(
      Seq((1L, "d1", false), (2L, "d2", false)).toDF("id", "day", "live"),
      root, Seq("id", "day"), "day")
    val v1 = ManifestTable.currentVersion(root)
    def schemaLines(v: Int) = Files.readAllLines(Paths.get(root, s"manifest-v$v.json"))
      .asScala.filter(_.startsWith("#schema="))
    val m = Paths.get(root, s"manifest-v$v1.json")
    Files.writeString(m, Files.readAllLines(m).asScala
      .filterNot(_.startsWith("#schema=")).mkString("\n"))
    assert(schemaLines(v1).isEmpty)
    assert(ManifestTable.rewriteWhere(spark, root, "day", $"live") == v1 + 1)
    assert(schemaLines(v1 + 1).size == 1)
    assert(ManifestTable.read(spark, root).inputFiles.isEmpty)
    assert(ManifestTable.read(spark, root).columns.toSeq == Seq("id", "day", "live"))
    assert(ManifestTable.read(spark, root).isEmpty)
  }

  test("append rejects a stats re-declaration that would MISREAD carried-over " +
    "entries (reorder/replace), while extending the declaration is allowed " +
    "(ADVICE r10)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-statsguard").toString
    val rows = (0L until 100L).map(i => (i, i * 2, s"v$i")).toDF("x", "y", "v")
    ManifestTable.commitSnapshot(rows, root, Seq("x"))
    // REPLACING the declared column would prune old files using x's
    // recorded min/max as if they were y's — rejected loudly
    val e = intercept[IllegalArgumentException] {
      ManifestTable.append(rows, root, Seq("y"))
    }
    assert(e.getMessage.contains("positional"), e.getMessage)
    // EXTENDING keeps every carried pair aligned (prefix rule) — allowed,
    // and the old generation's single-column stats still prune correctly
    ManifestTable.append((200L until 300L).map(i => (i, i * 2, s"v$i"))
      .toDF("x", "y", "v"), root, Seq("x", "y"))
    assert(ManifestTable.readWhereBox(spark, root, Seq(("x", 0L, 50L))).count() == 51L)
    assert(ManifestTable.readWhereBox(spark, root,
      Seq(("x", 200L, 220L), ("y", 400L, 440L))).count() == 21L)
    // same guard on the partition-scoped merge path
    val root2 = Files.createTempDirectory("graft-statsguard2").toString
    ManifestTable.mergePartitioned(
      Seq((1L, "d1", 5L)).toDF("id", "day", "x"), root2, Seq("id", "day"), "day",
      statsCol = Some("x"))
    val e2 = intercept[IllegalArgumentException] {
      ManifestTable.mergePartitioned(
        Seq((2L, "d1", 6L)).toDF("id", "day", "x"), root2, Seq("id", "day"), "day",
        statsCol = Some("id"))
    }
    assert(e2.getMessage.contains("positional"), e2.getMessage)
  }

  test("NaN/Infinity in a Double stats column cannot poison pruning: the " +
    "non-finite pair is dropped at write time (file conservatively kept) and " +
    "a pre-guard manifest with such stats reads instead of throwing (ADVICE r10)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-nanstats").toString
    val rows = Seq((1L, 1.5), (2L, Double.NaN), (3L, 9.5)).toDF("id", "score")
    ManifestTable.commitSnapshot(rows.coalesce(1), root, Seq("score"))
    // Spark's max treats NaN as greatest → hi would stringify "NaN";
    // the write-side guard drops the pair, so the file has NO score
    // stats and every read keeps it (conservative, never wrong)
    val got = ManifestTable.readWhereBox(spark, root, Seq(("score", 0L, 2L)))
      .select($"id").as[Long].collect().toSet
    assert(got == Set(1L), s"row-level filter still exact, got $got")
    // a LEGACY manifest that recorded "NaN" lo/hi directly (pre-guard
    // writer): the read-side Try keeps the file instead of throwing
    val v = ManifestTable.currentVersion(root)
    val mf = java.nio.file.Paths.get(root, s"manifest-v$v.json")
    val doctored = java.nio.file.Files.readString(mf).linesIterator.map { l =>
      if (l.startsWith("#")) l
      else l.split('\t').take(2).mkString("\t") + "\tNaN\tNaN"
    }.mkString("\n")
    java.nio.file.Files.writeString(mf, doctored,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    val got2 = ManifestTable.readWhereBox(spark, root, Seq(("score", 0L, 2L)))
      .select($"id").as[Long].collect().toSet
    assert(got2 == Set(1L), s"NaN-stat file must be kept, not crash: $got2")
  }

  test("mergePartitioned evaluates its batch ONCE: a partition value that changes " +
    "between evaluations cannot make the commit drop a partition's existing rows") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-manifest-once").toString
    val key = Seq("id", "day")
    ManifestTable.mergePartitioned(
      pdf((1L, "d0", "a"), (2L, "d1", "b"), (3L, "d1", "c")), root, key, "day")
    // the first evaluation puts the row in d0, every later one in d1 —
    // a partition that already holds rows
    ManifestTableSpec.dayCalls.set(0)
    val flip = org.apache.spark.sql.functions.udf { () =>
      if (ManifestTableSpec.dayCalls.getAndIncrement() == 0) "d0" else "d1"
    }.asNondeterministic()
    val batch = spark.range(9L, 10L).select($"id", flip().as("day"), lit("z").as("v"))
    ManifestTable.mergePartitioned(batch, root, key, "day")
    val got = readPSet(root)
    assert(Set((1L, "d0", "a"), (2L, "d1", "b"), (3L, "d1", "c")).subsetOf(got),
      s"a pre-existing row was lost: $got")
    assert(got.count(_._1 == 9L) == 1, s"the batch row lands once: $got")
  }

  test("every commit records its snapshot's union schema, equal to footer " +
    "inference across add-column evolution; a manifest without it still reads") {
    import spark.implicits._
    def files(root: String, v: Int) = fileState(root, v).keys.map(r => s"$root/$r").toSeq
    def inferred(root: String, v: Int) =
      spark.read.option("mergeSchema", "true").parquet(files(root, v): _*).schema
    def recordsSchema(root: String, v: Int) =
      Files.readAllLines(Paths.get(root, s"manifest-v$v.json")).toArray
        .exists(_.toString.startsWith("#schema="))
    def assertRecorded(root: String, v: Int): Unit = {
      assert(recordsSchema(root, v), s"manifest-v$v records no schema")
      val (got, want) = (ManifestTable.schemaOf(spark, root, v), inferred(root, v))
      assert(got == want, s"v$v recorded $got, inference gives $want")
      assert(ManifestTable.readVersion(spark, root, v).schema == want)
    }

    // partitioned: each evolution touches one partition, so the snapshot
    // mixes file generations; `score` is a non-nullable Double in the batch
    val root = Files.createTempDirectory("graft-manifest-schema").toString
    val key = Seq("id", "day")
    ManifestTable.mergePartitioned(pdf((1L, "d1", "a"), (2L, "d2", "b")), root, key, "day")
    ManifestTable.mergePartitioned(Seq((1L, "d1", "A", 0.9)).toDF("id", "day", "v", "score"),
      root, key, "day")
    ManifestTable.mergePartitioned(Seq((2L, "d2", "B", Seq("t"))).toDF("id", "day", "v", "tags"),
      root, key, "day")
    (1 to 3).foreach(assertRecorded(root, _))
    assert(ManifestTable.read(spark, root).columns.toSeq ==
      Seq("id", "day", "v", "score", "tags"))

    // snapshot commit, then a reordered append that adds a column
    val sroot = Files.createTempDirectory("graft-manifest-schema-s").toString
    ManifestTable.commit(Seq((1L, "a")).toDF("x", "y"), sroot)
    ManifestTable.append(Seq(("b", 2L, 3)).toDF("y", "x", "z"), sroot)
    (1 to 2).foreach(assertRecorded(sroot, _))
    assert(ManifestTable.read(spark, sroot).as[(Long, String, Option[Int])].collect().toSet ==
      Set((1L, "a", None), (2L, "b", Some(3))))

    // a manifest written before the field existed: inference fallback,
    // and the next commit on top of it records the schema again
    val m3 = Paths.get(root, "manifest-v3.json")
    Files.writeString(m3, Files.readAllLines(m3).toArray.map(_.toString)
      .filterNot(_.startsWith("#schema=")).mkString("\n"))
    assert(!recordsSchema(root, 3))
    assert(ManifestTable.read(spark, root).schema == inferred(root, 3))
    assert(readPSet(root) == Set((1L, "d1", "A"), (2L, "d2", "B")))
    ManifestTable.mergePartitioned(pdf((3L, "d3", "c")), root, key, "day")
    assertRecorded(root, 4)

    // an EMPTY first commit lands too: a manifest with no files whose
    // recorded schema is the only schema source, and merges build on it
    val eroot = Files.createTempDirectory("graft-manifest-schema-e").toString
    assert(ManifestTable.mergePartitioned(pdf(), eroot, key, "day") == 1)
    assert(recordsSchema(eroot, 1) && fileState(eroot, 1).isEmpty)
    assert(ManifestTable.read(spark, eroot).schema ==
      org.apache.spark.sql.graft.SqlShims.asNullable(pdf().schema))
    assert(ManifestTable.read(spark, eroot).isEmpty)
    ManifestTable.mergePartitioned(pdf((1L, "d1", "a")), eroot, key, "day")
    assertRecorded(eroot, 2)
    assert(readPSet(eroot) == Set((1L, "d1", "a")))
  }

  test("an empty mergePartitioned batch on a committed table commits nothing: " +
    "the current version comes back, and no manifest, data dir or tag is written") {
    val root = Files.createTempDirectory("graft-manifest-empty").toString
    val key = Seq("id", "day")
    val v = ManifestTable.mergePartitioned(pdf((1L, "d1", "a"), (2L, "d2", "b")),
      root, key, "day", tag = Some(ManifestTable.batchTag("s", 1)))
    def listing = (new File(root).list().toSet, new File(s"$root/data").list().toSet)
    val before = listing
    val empty = pdf((3L, "d3", "c")).where(lit(false))
    assert(ManifestTable.mergePartitioned(empty, root, key, "day",
      tag = Some(ManifestTable.batchTag("s", 2))) == v)
    assert(ManifestTable.currentVersion(root) == v)
    assert(listing == before, "no manifest-v* and no data/ directory")
    assert(ManifestTable.lastBatchTag(root, "s") == 1L)
    assert(readPSet(root) == Set((1L, "d1", "a"), (2L, "d2", "b")))
  }
}

object ManifestTableSpec {
  /** Calls of the nondeterministic partition UDF (executors share the
    * test JVM in local mode). */
  val dayCalls = new java.util.concurrent.atomic.AtomicInteger
}
