package graft

import graft.sources.{ParquetKnobs, WideTableGen}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** SURVEY §5's write→read round-trip property: ANY writer-knob
  * configuration (codec × row-group size × page size × dictionary ×
  * stats level) must read back the identical table. The reference only
  * asserts metadata equality (src/pq_fb_ns_data_generator.cc:499);
  * this checks the data too, across randomly drawn configs.
  */
class WriterRoundTripSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("random writer-knob configs round-trip losslessly") {
    val gen = for {
      cols <- Gen.choose(1, 12)
      rows <- Gen.choose(100, 2000)
      codec <- Gen.oneOf(ParquetKnobs.codecs)
      rgRows <- Gen.oneOf(500, 1000, 5000)
      page <- Gen.oneOf(8 * 1024, 64 * 1024, 1024 * 1024)
      dict <- Gen.oneOf(true, false)
      stats <- Gen.choose(0, 2)
      seed <- Gen.choose(0L, 1000L)
    } yield (cols, rows, codec, rgRows, page, dict, stats, seed)
    val path = s"${System.getProperty("user.dir")}/target/graft-test/prop_roundtrip"
    val prop = Prop.forAll(gen) {
      case (cols, rows, codec, rgRows, page, dict, stats, seed) =>
        // values depend on (seed, partition, column, row offset) only,
        // so the regenerated frame equals what was written
        val df = WideTableGen.wide(spark, cols, rows.toLong, seed)
        ParquetKnobs.write(df, path, ParquetKnobs.WriteConfig(
          codec = codec,
          rowGroupBytes = ParquetKnobs.rowGroupBytesFor(rgRows, cols),
          pageBytes = page, dictionary = dict, statsLevel = stats))
        val back = spark.read.parquet(path)
        back.count() == rows &&
          back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(result.passed, result.status.toString)
  }
}
