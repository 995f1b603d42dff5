package graft

import graft.operators.DriverLocal

class DriverLocalSpec extends SparkSpec {

  test("the gate admits exactly MaxRows rows and declines one past it") {
    assert(DriverLocal.fits(DriverLocal.MaxRows))
    assert(!DriverLocal.fits(DriverLocal.MaxRows + 1))
    assert(DriverLocal.fits(0L))
  }

  test("longPairs collects non-null long pairs and declines other ids") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (3L, 1L)).toDF("id1", "id2")
    assert(DriverLocal.longPairs(pairs).map(_.toSeq) == Some(Seq((1L, 2L), (3L, 1L))))
    assert(DriverLocal.longPairs(Seq((1, 2)).toDF("id1", "id2")).isEmpty)
    assert(DriverLocal.longPairs(
      Seq((Some(1L), Option.empty[Long])).toDF("id1", "id2")).isEmpty)
  }

  test("longFrame keeps row order under a non-null long schema") {
    import org.apache.spark.sql.Row
    val rows = Seq(Row(2L, 20L), Row(1L, 10L))
    val df = DriverLocal.longFrame(spark, rows, "id", "v")
    assert(df.schema.fields.map(f => (f.name, f.dataType.typeName, f.nullable)).toSeq ==
      Seq(("id", "long", false), ("v", "long", false)))
    assert(df.collect().toSeq == rows)
    assert(df.rdd.getNumPartitions == 1)
  }
}
