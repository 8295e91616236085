package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

import scala.jdk.CollectionConverters._

/** The storage-layout claims behind `src_bloom_parquet` are verified
  * against the actual parquet FOOTERS, not just the write options:
  * every row group's c_custkey chunk must carry a bloom-filter offset
  * and every chunk must be ZSTD-coded. (An option typo silently
  * degrades to no-bloom/snappy — the round-trip query would still
  * pass, so only a footer inspection pins the layout.) */
class ParquetLayoutSpec extends AnyFunSuite with SharedSpark {

  test("bloom filter offsets and ZSTD codec land in every footer") {
    val dir = graft.queries.SourceQueries
      .bloomParquetPath(spark, "/root/testdata/sf0.001")
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).toSeq
    assert(files.nonEmpty, s"no parquet files under $dir")
    files.foreach { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f.getAbsolutePath),
          new Configuration()))
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        assert(blocks.nonEmpty, s"${f.getName}: empty footer")
        blocks.foreach { b =>
          val byCol = b.getColumns.asScala
            .map(c => c.getPath.toDotString -> c).toMap
          val key = byCol("c_custkey")
          assert(key.getBloomFilterOffset >= 0,
            s"${f.getName}: c_custkey row group has no bloom filter")
          // the non-keyed columns carry none (per-column opt-in, not
          // a table-wide tax)
          assert(byCol("c_name").getBloomFilterOffset < 0,
            s"${f.getName}: c_name unexpectedly has a bloom filter")
          byCol.values.foreach(c =>
            assert(c.getCodec.toString == "ZSTD",
              s"${f.getName}: ${c.getPath} codec ${c.getCodec}"))
        }
        // the bloom filter actually deserializes and answers probes
        val bf = reader.getBloomFilterDataReader(
          reader.getFooter.getBlocks.get(0)).readBloomFilter(
          reader.getFooter.getBlocks.get(0).getColumns.asScala
            .find(_.getPath.toDotString == "c_custkey").get)
        assert(bf != null, s"${f.getName}: bloom filter unreadable")
      } finally reader.close()
    }
  }
}
