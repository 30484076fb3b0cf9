package graft.loader

import graft.model.{Migration, MigrationsDirUnreadable}
import java.io.File
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.input_file_name

/** Migration-file source.
  *
  * Reference behavior (`internal/migration/loader.go`):
  *   - filenames `V{n}_{name}.up.sql` / `.down.sql`, or
  *     `{14-digit-ts}_{name}.up.sql` (regex at loader.go:15-17);
  *     `V` prefix is stripped — `V001_x` stores version `001`;
  *   - non-matching files are skipped (loader.go:50-52);
  *   - files pair by `version_name`; a `.down.sql` without its
  *     `.up.sql` is an orphan and is skipped (loader.go:84-86);
  *   - SQL content is whitespace-trimmed (loader.go:108);
  *   - checksum = SHA-256 hex of the up SQL;
  *   - a missing or unreadable directory is an error; an existing
  *     directory without migration files loads nothing.
  *
  * All of that is [[fromFiles]]: [[loadLocal]] lists a directory into
  * it on the driver (every CLI command), [[load]] feeds it the rows of a
  * `wholetext` scan (the Dataset-shaped m-queries).
  *
  * The trim is `String.trim` (every char <= U+0020), which every stored
  * tracker checksum was computed with. Known deviation: Go's TrimSpace
  * keeps the C0 controls other than \t \n \v \f \r and strips U+0085
  * and U+00A0.
  */
object MigrationLoader {

  /** `V001_name.up.sql` → ("001", name, "up"); `20240101120000_n.up.sql`
    * → ("20240101120000", n, "up").
    */
  val fileRegex = "^(?:V(\\d+)|(\\d{14}))_(.+)\\.(up|down)\\.sql$"
  private val FileName = fileRegex.r

  /** (path, content) pairs → version-sorted migrations: filename parse,
    * trim, up/down pairing and checksum. Paths are kept as `filePath`.
    */
  def fromFiles(files: Seq[(String, String)]): Seq[Migration] = {
    val parsed = files.flatMap { case (path, content) =>
      new File(path).getName match {
        case FileName(vnum, vts, name, dirn) =>
          Some((if (vnum != null) vnum else vts, name, dirn,
            content.trim, path))
        case _ => None
      }
    }
    parsed.groupBy(t => (t._1, t._2)).toSeq
      .flatMap { case ((version, name), group) =>
        val down = group.find(_._3 == "down").fold("")(_._4)
        group.find(_._3 == "up").map(u =>
          Migration(version, name, u._4, down, u._5))
      } // orphan down without up → skipped
      .sortBy(_.version)
  }

  /** Distributed load: Dataset[Migration] from a directory of .sql
    * files. The scan is Spark's; the rows go through [[fromFiles]] in
    * one task (a migration set is metadata-sized).
    */
  def load(spark: SparkSession, dir: String): Dataset[Migration] = {
    import spark.implicits._
    spark.read.option("wholetext", "true").text(s"$dir/*.sql")
      .select(input_file_name(), $"value").as[(String, String)]
      .coalesce(1)
      .mapPartitions(rows => MigrationLoader.fromFiles(rows.map {
        case (uri, content) => (URI.create(uri).getPath, content)
      }.toSeq).iterator)
  }

  /** Load + version-sort (reference `migration.Sort`, sorter.go:7-16 —
    * lexicographic on the version string; preserved exactly, see
    * SURVEY.md §7.4 item 4).
    */
  def loadSorted(spark: SparkSession, dir: String): Dataset[Migration] =
    load(spark, dir).orderBy("version")

  /** Driver-side load, version-sorted; throws [[MigrationsDirUnreadable]]
    * when `dir` is missing or cannot be listed.
    */
  def loadLocal(dir: String): Seq[Migration] = {
    val listed = Option(new File(dir).listFiles())
      .getOrElse(throw MigrationsDirUnreadable(dir))
    fromFiles(listed.toSeq.filter(_.isFile).map(f =>
      (f.getAbsolutePath, new String(Files.readAllBytes(f.toPath), UTF_8))))
  }
}
