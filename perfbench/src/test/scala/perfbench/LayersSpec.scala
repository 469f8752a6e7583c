package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog._
import graft.io.HadoopFileIO
import graft.spec._
import graft.table._

class LayersSpec extends AnyFunSuite {

  private def tempDir() = Files.createTempDirectory("perfbench-layers").toString

  test("io counters equal the bytes and files written and read") {
    val dir = tempDir()
    val c = new Counters
    val io = new CountingFileIO(new HadoopFileIO(), c)
    val sizes = Seq(0, 1, 4096, 100000)
    sizes.zipWithIndex.foreach { case (n, i) =>
      io.writeAllBytes(s"$dir/f$i", Array.fill[Byte](n)(i.toByte))
    }
    assert(c.get("io.write_calls") == sizes.size)
    assert(c.get("io.write_bytes") == sizes.sum)
    val read = sizes.indices.map(i => io.readAllBytes(s"$dir/f$i").length)
    assert(read == sizes)
    assert(c.get("io.read_calls") == sizes.size)
    assert(c.get("io.read_bytes") == sizes.sum)
    // a ranged read counts only the bytes it returns
    val in = io.openRange(s"$dir/f3", 10, 500)
    try assert(in.readAllBytes().length == 500) finally in.close()
    assert(c.get("io.read_calls") == sizes.size + 1)
    assert(c.get("io.read_bytes") == sizes.sum + 500)
    // calls that move no bytes are forwarded but not counted
    assert(io.exists(s"$dir/f2") && io.length(s"$dir/f2") == 4096)
    assert(c.get("io.read_calls") == sizes.size + 1)
    assert(c.get("io.read_nanos") > 0 && c.get("io.write_nanos") > 0)
  }

  test("catalog counters count loads, commits, conflicts and metadata bytes") {
    val c = new Counters
    val cat = new CountingCatalog(new LocalCatalog(tempDir()), c)
    cat.createNamespace(Seq("ns"))
    val schema = Schema(0, Seq(NestedField(1, "id", LongType, required = true)))
    val id = TableIdentifier(Seq("ns"), "t")
    val t0 = Table.create(cat, id, schema, io = new HadoopFileIO())
    assert(c.get("catalog.commit_calls") == 0)
    Table.load(cat, id, t0.io)
    Table.load(cat, id, t0.io)
    assert(c.get("catalog.load_calls") == 2)

    val t1 = t0.commitSnapshot(PendingSnapshot(Operation.Append))
    assert(c.get("catalog.commit_calls") == 1)
    assert(c.get("catalog.metadata_json_bytes") ==
      MetadataJson.write(t1.metadata).getBytes("UTF-8").length)

    // a commit against the stale main ref loses the compare-and-swap
    val stale = Seq(TableRequirement.AssertRefSnapshotId("main", None))
    intercept[CommitFailedException](cat.commitTable(id, stale, Nil))
    assert(c.get("catalog.commit_conflicts") == 1)
    assert(c.get("catalog.commit_calls") == 2)
  }
}
