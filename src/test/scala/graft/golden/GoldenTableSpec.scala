package graft.golden

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The committed golden table is exactly what [[GoldenTable]] writes, and
  * the lengths the project documents for it are the files' true lengths. */
class GoldenTableSpec extends AnyFunSuite {

  private val committed = Paths.get(graft.IceQueries.FixtureDir)

  private def files(root: Path): Seq[String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString).toSeq.sorted
    finally s.close()
  }

  test("the fixture directory is the generator's default output") {
    assert(committed == Paths.get(GoldenTable.DefaultDir).toAbsolutePath)
  }

  test("regenerating the table reproduces the committed files byte for byte") {
    val fresh = Files.createTempDirectory("golden_my_table")
    GoldenTable.write(fresh)
    assert(files(fresh) == files(committed))
    files(committed).foreach { rel =>
      assert(java.util.Arrays.equals(Files.readAllBytes(fresh.resolve(rel)),
        Files.readAllBytes(committed.resolve(rel))),
        s"$rel differs from the generator's output: re-run " +
          "`sbt \"Test/runMain graft.golden.GoldenTable\"` and commit the result")
    }
  }

  test("documented file lengths are the true lengths") {
    val documented = Seq(
      "data/00000-0-b5ea8b58-1686-4d25-af1d-9349b2d29fd0-00001.parquet" -> 636L,
      "data/00000-206-1427d50c-e5c0-401a-9f54-b37b943b98c3-00001.parquet" -> 970L,
      "data/00002-2-e5685594-0967-42ad-b306-2128ad35e716-00001.parquet" -> 650L,
      "data/00003-3-2a454a5e-dc13-4075-a9ad-91181d5ac450-00001.parquet" -> 650L,
      "data/00081-6-db4a5dc9-8fdc-4b1f-b88e-05e954a966f7-00001.parquet" -> 656L,
      "metadata/844a1c71-3878-41ff-a1dc-677fcf770276-m0.avro" -> 5954L,
      "metadata/844a1c71-3878-41ff-a1dc-677fcf770276-m1.avro" -> 5786L,
      "metadata/b1a0a4f3-c2d8-4a81-97c0-ce967a61a546-m0.avro" -> 5864L)
    documented.foreach { case (rel, length) =>
      assert(Files.size(committed.resolve(rel)) == length, rel)
    }
    assert(files(committed).count(_.startsWith("data/")) == 6)
    assert(files(committed).count(_.matches("metadata/snap-.*\\.avro")) == 3)
    assert(files(committed).count(_.matches("metadata/.*-m\\d\\.avro")) == 4)
    assert(!files(committed).exists(_.endsWith(".crc")))
  }
}
