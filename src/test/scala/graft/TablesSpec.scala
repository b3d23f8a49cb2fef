package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{BinaryType, StringType}
import graft.queries.Tables

/** `Tables.load`'s schema memo never hands one parquet type mapping to a
  * session whose schema confs map the same file differently. */
class TablesSpec extends SparkSpec {

  test("schema memo: binaryAsString switched on in the same session yields StringType") {
    // Written without Spark, so no Spark schema in the footer decides the
    // type: the binary column carries no UTF8 annotation.
    val dir = Files.createTempDirectory("tables").toString
    val schema = MessageTypeParser.parseMessageType(
      "message t { required binary b; required int64 n; }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/t.parquet/part-0.parquet"))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("b", "a").append("n", 1L))
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    try {
      spark.conf.set(key, "false")
      assert(Tables.load(spark, dir, "t").schema("b").dataType == BinaryType)
      spark.conf.set(key, "true")
      val asString = Tables.load(spark, dir, "t")
      assert(asString.schema("b").dataType == StringType)
      assert(asString.collect().head.getString(0) == "a")
    } finally spark.conf.unset(key)
  }
}
