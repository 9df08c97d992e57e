package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Fixture-schema CANARY (round-5 lesson): the driver regenerated the
  * testdata with `events.ts` flipped from INT64 TIMESTAMP(NANOS) to
  * TIMESTAMP_MICROS/NTZ and nothing in the suite read the fixtures
  * cheaply enough to notice — 36 queries and 21 tests failed with the
  * same analysis exception. This spec loads every `Tables.*` loader
  * against sf0.001 (schema-only, metadata read, no row scan) and pins
  * the column names + types each loader CONTRACTS to downstream code,
  * so the next silent testdata change flips one named test here instead
  * of dozens of mystery failures.
  *
  * For `events`, the pinned type is the LOADER's output (`ts` as a
  * session-TZ timestamp) — the loader itself is schema-adaptive across
  * the physical encodings the fixture has shipped with (Tables.scala).
  */
class TestdataSchemaSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  private def check(name: String, df: org.apache.spark.sql.DataFrame,
                    expected: Seq[(String, DataType)]): Unit = {
    val actual = df.schema.map(f => f.name -> f.dataType)
    assert(actual == expected,
      s"$name loader schema drifted:\n  actual:   $actual\n  expected: $expected")
  }

  test("region") {
    check("region", Tables.region(spark, sf),
      Seq("r_regionkey" -> IntegerType, "r_name" -> StringType))
  }

  test("nation") {
    check("nation", Tables.nation(spark, sf),
      Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType))
  }

  test("customer") {
    check("customer", Tables.customer(spark, sf),
      Seq("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType))
  }

  test("supplier") {
    check("supplier", Tables.supplier(spark, sf),
      Seq("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType))
  }

  test("part") {
    check("part", Tables.part(spark, sf),
      Seq("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType))
  }

  test("orders") {
    val df = Tables.orders(spark, sf)
    val names = df.schema.map(_.name)
    assert(names == Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority"),
      s"orders columns drifted: $names")
    // o_orderdate has shipped as both NTZ and instant micros; downstream
    // code only needs a timestamp-family type
    assert(Seq(TimestampType, TimestampNTZType)
        .contains(df.schema("o_orderdate").dataType),
      s"o_orderdate type drifted: ${df.schema("o_orderdate").dataType}")
  }

  test("lineitem") {
    val df = Tables.lineitem(spark, sf)
    val names = df.schema.map(_.name)
    assert(names == Seq("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
      "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
      s"lineitem columns drifted: $names")
    assert(Seq(TimestampType, TimestampNTZType)
        .contains(df.schema("l_shipdate").dataType),
      s"l_shipdate type drifted: ${df.schema("l_shipdate").dataType}")
  }

  test("events loader emits a usable timestamp regardless of physical type") {
    val df = Tables.events(spark, sf)
    check("events", df,
      Seq("event_id" -> LongType, "ts" -> TimestampType,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType))
    // one cheap row read: the adaptive branch must produce real instants
    // (a wrong nanos/micros branch yields year-52xxx or year-1970 values)
    val year = df.selectExpr("year(ts)").head().getInt(0)
    assert(year >= 1990 && year <= 2100,
      s"events.ts decodes to year $year — wrong unit branch in Tables.events")
  }

  test("documents") {
    check("documents", Tables.documents(spark, sf),
      Seq("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType))
  }

  test("embeddings") {
    check("embeddings", Tables.embeddings(spark, sf),
      Seq("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType, containsNull = true),
        "label" -> IntegerType))
  }
}
