package graft

import graft.loader.MigrationLoader
import graft.model.{Migration, MigrationsDirUnreadable}
import java.nio.file.Files
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Loader tests — ported case matrix from the reference's
  * `internal/migration/loader_test.go` and `sorter_test.go`.
  */
class LoaderSpec extends SparkFunSuite {

  val fixturesDir = "/root/repo/fixtures/migrations"

  test("Spark load: 27 fixture migrations, sorted, stripped V prefix") {
    val ms = MigrationLoader.loadSorted(spark, fixturesDir).collect().toSeq
    assert(ms.length == 27)
    assert(ms.map(_.version) == (1 to 27).map(i => f"$i%03d"))
    assert(ms.head.name == "create_users")
    assert(ms.head.upSql.startsWith("CREATE TABLE users"))
    assert(ms.head.downSql.startsWith("DROP TABLE users"))
  }

  test("Spark load: migrations without down files have empty downSql") {
    val ms = MigrationLoader.load(spark, fixturesDir).collect()
    val v008 = ms.find(_.version == "008").get
    assert(v008.downSql == "")
    assert(v008.upSql == "VACUUM FULL users;")
  }

  test("Spark checksum (sha2) agrees with driver-side SHA-256") {
    val ms = MigrationLoader.load(spark, fixturesDir).collect()
    ms.foreach { m =>
      assert(m.checksum == Migration.computeChecksum(m.upSql),
        s"checksum divergence for ${m.version}")
    }
  }

  /** Chars at the edge of what a whitespace trim strips: the ASCII
    * whitespace set, C0 controls outside it, and the two Latin-1 spaces
    * Go's TrimSpace strips (U+0085, U+00A0).
    */
  private val edgeChars = Seq(' ', '\t', '\n', '\r', '\u000B', '\f',
    '\u0001', '\u001F', '\u0085', '\u00A0')

  private val genEdges: Gen[String] =
    Gen.choose(0, 4).flatMap(Gen.listOfN(_, Gen.oneOf(edgeChars)))
      .map(_.mkString)

  /** SQL text padded and interleaved with edge chars (possibly nothing
    * but edge chars).
    */
  private val genSql: Gen[String] = for {
    pre <- genEdges
    body <- Gen.oneOf("", "SELECT 1;", "CREATE TABLE t (id INT);")
    mid <- genEdges
    tail <- Gen.oneOf("", "DROP TABLE t;")
    post <- genEdges
  } yield pre + body + mid + tail + post

  /** One random migration directory: (file name, content) pairs, with
    * up-only, up+down and orphan-down migrations.
    */
  private val genMigrationDir: Gen[Seq[(String, String)]] =
    Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, for {
      name <- Gen.listOfN(6, Gen.alphaLowerChar).map(_.mkString)
      up <- genSql
      down <- genSql
      files <- Gen.oneOf((Some(up), None), (Some(up), Some(down)),
        (None, Some(down)))
    } yield (name, files._1, files._2))).map(_.zipWithIndex.flatMap {
      case ((name, up, down), i) =>
        val stem = f"V${i + 1}%03d_$name"
        up.map(s"$stem.up.sql" -> _).toSeq ++
          down.map(s"$stem.down.sql" -> _)
    })

  test("local load matches Spark load") {
    val generated = (1L to 8L).map { seed =>
      val dir = Files.createTempDirectory("graft-loader-prop").toFile
      genMigrationDir.pureApply(Gen.Parameters.default, Seed(seed))
        .foreach { case (name, content) =>
          Files.write(new java.io.File(dir, name).toPath,
            content.getBytes("UTF-8"))
        }
      dir.getAbsolutePath
    }
    for (dir <- fixturesDir +: generated) {
      val local = MigrationLoader.loadLocal(dir)
      val dist = MigrationLoader.loadSorted(spark, dir).collect().toSeq
      assert(local.map(m => (m.version, m.name, m.upSql, m.downSql, m.checksum)) ==
        dist.map(m => (m.version, m.name, m.upSql, m.downSql, m.checksum)),
        s"loaders disagree on $dir")
    }
  }

  test("missing or unreadable directory is an error; an existing " +
      "directory without migration files loads nothing") {
    val dir = Files.createTempDirectory("graft-loader-empty").toFile
    assert(MigrationLoader.loadLocal(dir.getAbsolutePath).isEmpty)
    Files.write(new java.io.File(dir, "README.md").toPath, Array[Byte]())
    assert(MigrationLoader.loadLocal(dir.getAbsolutePath).isEmpty)
    val missing = new java.io.File(dir, "no-such-dir").getAbsolutePath
    assert(intercept[MigrationsDirUnreadable](
      MigrationLoader.loadLocal(missing)).getMessage.contains(missing))
    // a file is not a directory
    intercept[MigrationsDirUnreadable](
      MigrationLoader.loadLocal(new java.io.File(dir, "README.md").getPath))
  }

  test("orphan .down.sql and non-matching filenames are skipped; timestamp versions load") {
    val dir = Files.createTempDirectory("graft-loader").toFile
    def write(name: String, content: String): Unit =
      Files.write(new java.io.File(dir, name).toPath, content.getBytes("UTF-8"))
    write("V001_ok.up.sql", "SELECT 1;")
    write("V002_orphan.down.sql", "SELECT 2;") // no matching up → skipped
    write("README.md", "not a migration")
    write("notes.sql", "SELECT 3;") // non-matching name → skipped
    write("20240101120000_ts_style.up.sql", "SELECT 4;")
    val local = MigrationLoader.loadLocal(dir.getAbsolutePath)
    assert(local.map(_.version) == Seq("001", "20240101120000"))
    val dist = MigrationLoader.loadSorted(spark, dir.getAbsolutePath).collect()
    assert(dist.map(_.version).toSeq == Seq("001", "20240101120000"))
    assert(dist.find(_.version == "20240101120000").get.name == "ts_style")
  }

  test("version sort is lexicographic on the version string") {
    // 14-digit timestamps sort after zero-padded numeric versions —
    // exactly the reference's lexicographic semantics (sorter.go:11-13)
    val vs = Seq("20240101120000", "001", "010", "002")
    assert(vs.sorted == Seq("001", "002", "010", "20240101120000"))
  }
}
