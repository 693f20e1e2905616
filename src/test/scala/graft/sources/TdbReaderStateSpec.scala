package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** What the `tdb` reader reads where: a load opens the archive once, and
  * the tasks get the literal bit widths from the driver. */
class TdbReaderStateSpec extends graft.SparkSpec {
  import spark.implicits._

  /** Writes a 2-trail, 3-event package whose `f1` lexicon is (x, y). */
  private def write(path: String): Unit = TdbWriter.writePackage(
    Seq(("ab" * 16, 1L, "x", "p"), ("ab" * 16, 5L, "y", null), ("cd" * 16, 2L, "x", "q"))
      .toDF("uuid", "time", "f1", "f2"), Seq("f1", "f2"), path)

  test("a load reuses the meta its schema inference opened") {
    val dir = Files.createTempDirectory("graft-tdb-load")
    val path = s"$dir/a.tdb"
    write(path)
    val source = new TdbDataSource
    val options = new CaseInsensitiveStringMap(Map("path" -> path).asJava)
    val schema = source.inferSchema(options)
    // a second archive walk would find no package
    Files.delete(Paths.get(path))
    val table = source.getTable(schema, Array.empty, options.asCaseSensitiveMap)
    assert(table.schema() === schema)
  }

  test("the reader factory ships the literal bit widths the driver read") {
    val dir = Files.createTempDirectory("graft-tdb-ship")
    val tar = s"$dir/a.tdb"
    write(tar)
    // a member directory, so the lexicons can go while the rest stays
    val mdir = Files.createDirectory(dir.resolve("members"))
    val ar = TdbFormat.TdbArchive.open(tar)
    ar.memberNames.foreach(m => Files.write(mdir.resolve(m), ar.readAll(m)))
    val meta = TdbFormat.TdbMeta.open(mdir.toString)
    // only `time` is projected: the task needs no lexicon but the bit
    // width of every field's literals
    val scan = new TdbScan(meta,
      StructType(TdbTable.schemaOf(meta).filter(_.name == "time")), None)
    val parts = scan.planInputPartitions()
    val bytes = new ByteArrayOutputStream
    val out = new ObjectOutputStream(bytes)
    out.writeObject(scan.createReaderFactory())
    out.close()
    // a task that re-read a lexicon header would find no member
    Files.list(mdir).iterator.asScala.toList
      .filter(_.getFileName.toString.startsWith("lexicon.")).foreach(Files.delete)
    val factory = new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[TdbReaderFactory]
    val times = parts.toSeq.flatMap { p =>
      val r = factory.createReader(p)
      try Iterator.continually(r.next()).takeWhile(identity)
        .map(_ => r.get().getLong(0)).toList
      finally r.close()
    }
    assert(times.sorted === Seq(1L, 2L, 5L))
  }
}
