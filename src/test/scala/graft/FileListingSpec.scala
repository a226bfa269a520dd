package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path

/** FileListing must list exactly what Hadoop's recursive `listFiles`
  * lists — every stamp built on it (result-cache keys, pin stamps, knob
  * stamps) would otherwise change meaning. */
class FileListingSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  /** The reference listing: Hadoop's `listFiles(root, true)`. */
  private def hadoopListing(root: Path): Seq[(String, Long, Long)] = {
    val it = root.getFileSystem(conf).listFiles(root, true)
    val out = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      out += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    out.result().sorted
  }

  private def listing(root: Path): Seq[(String, Long, Long)] =
    FileListing.files(conf, root)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      .toSeq.sorted

  private def stampOf(files: Seq[(String, Long, Long)]) =
    FileListing.Stamp(files.size.toLong, files.map(_._2).sum,
      (0L +: files.map(_._3)).max)

  test("nested partitioned parquet with a _temporary leftover: same files and stamp as listFiles") {
    val dir = Files.createTempDirectory("listing").toString + "/t"
    Seq((1L, "a", 0), (2L, "b", 1), (3L, "c", 1)).toDF("id", "v", "p")
      .write.partitionBy("p").parquet(dir)
    // a torn write's leftover, three levels below a partition leaf
    val torn = new java.io.File(dir, "p=1/_temporary/0/part-torn.parquet")
    torn.getParentFile.mkdirs()
    Files.write(torn.toPath, Array.fill[Byte](17)(1))
    val root = new Path(dir)
    val expected = hadoopListing(root)
    assert(expected.exists(_._1.contains("_temporary")))
    assert(expected.exists(_._1.endsWith("_SUCCESS")))
    assert(listing(root) === expected)
    assert(FileListing.stamp(conf, root) === Some(stampOf(expected)))
  }

  test("a single-file root lists as itself; an absent root lists nothing") {
    val dir = Files.createTempDirectory("listing_file").toString + "/t"
    Seq(1L, 2L).toDF("id").coalesce(1).write.parquet(dir)
    val file = new Path(new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".parquet")).get.getAbsolutePath)
    val expected = hadoopListing(file)
    assert(expected.size === 1)
    assert(listing(file) === expected)
    assert(FileListing.stamp(conf, file) === Some(stampOf(expected)))
    val absent = new Path(dir + "_absent")
    assert(FileListing.files(conf, absent).isEmpty)
    assert(FileListing.stamp(conf, absent) === None)
  }
}
