package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

import graft.functions.Q8Pack

/** Round-18 byte-packed q8 join currency: graft_q8pack + graft_q8dotb
  * must be BIT-IDENTICAL to graft_q8dot over the array form —
  *  - on the real fixture signatures (every vector, both operand
  *    orders via a cross-mod join);
  *  - on edge inputs the quantizer never emits but the SQL surface
  *    allows: null elements (packed to the −128 sentinel → contribute
  *    0 like the array dot's null skip), mismatched lengths (common
  *    prefix), boundary values ±127;
  *  - and the pack must FAIL LOUDLY on out-of-range values rather
  *    than silently wrapping a byte;
  *  - the pack's generated loop and its interpreted `eval` give the
  *    same bytes, and the same failure.
  */
class Q8PackSpec extends SparkSuite {

  private val sf01 = "/root/testdata/sf0.01"

  test("packed dot ≡ array dot on all fixture signature pairs") {
    GraftExtensions.register(spark)
    val e = graft.sources.Tables.embeddings(spark, sf01)
      .select(col("vec_id"),
        call_function("graft_q8cell", col("embedding")).as("s"))
      .select(col("vec_id"), col("s.q8").as("q8"),
        call_function("graft_q8pack", col("s.q8")).as("q8b"))
    val pairs = e.alias("a").join(e.alias("b"),
      col("a.vec_id") % 7 === col("b.vec_id") % 7)
    val diff = pairs.select(
      call_function("graft_q8dot", col("a.q8"), col("b.q8")).as("arr"),
      call_function("graft_q8dotb", col("a.q8b"), col("b.q8b")).as("bin"))
      .filter(not(col("arr") === col("bin")) ||
        col("arr").isNull =!= col("bin").isNull)
    assert(diff.count() == 0)
  }

  test("packed dot matches array dot on nulls, ±127 and length skew") {
    GraftExtensions.register(spark)
    val rows = Seq(
      Seq[java.lang.Long](127L, -127L, null, 0L),
      Seq[java.lang.Long](null, null, null, null),
      Seq[java.lang.Long](1L, -1L),
      Seq[java.lang.Long](),
      Seq[java.lang.Long](5L, 7L, -11L, 13L, 17L, -19L)
    ).map(v => org.apache.spark.sql.Row(v))
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("q8",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = true))))
    val df = spark.createDataFrame(rows.asJava, schema)
      .withColumn("q8b", call_function("graft_q8pack", col("q8")))
    val vals = df.alias("a").crossJoin(df.alias("b"))
      .select(
        call_function("graft_q8dot", col("a.q8"), col("b.q8")).as("arr"),
        call_function("graft_q8dotb", col("a.q8b"), col("b.q8b")).as("bin"))
      .collect()
    vals.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("pack fails loudly on out-of-range values") {
    GraftExtensions.register(spark)
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("q8",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = true))))
    val df = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(Seq[java.lang.Long](128L))).asJava, schema)
    val e = intercept[Exception] {
      df.select(call_function("graft_q8pack", col("q8"))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("q8 range")), e.getMessage)
  }

  test("generated pack loop ≡ interpreted pack on the fixture, nulls and out-of-range") {
    GraftExtensions.register(spark)
    val pack = Q8Pack(BoundReference(0, ArrayType(LongType, containsNull = true), nullable = true))
    // the loop is emitted inline: no reference object to call back into
    val ctx = new CodegenContext
    pack.genCode(ctx)
    assert(ctx.references.isEmpty, ctx.references.toSeq)
    val generated = GenerateUnsafeProjection.generate(Seq(pack))
    def row(v: Seq[java.lang.Long]) =
      InternalRow(if (v == null) null else new GenericArrayData(v.toArray[Any]))
    def compiled(v: Seq[java.lang.Long]): Array[Byte] = {
      val r = generated(row(v))
      if (r.isNullAt(0)) null else r.getBinary(0)
    }
    def interpreted(v: Seq[java.lang.Long]): Array[Byte] =
      pack.eval(row(v)).asInstanceOf[Array[Byte]]

    val fixture = graft.sources.Tables.embeddings(spark, sf01)
      .select(call_function("graft_q8cell", col("embedding")).as("s"))
      .select(col("s.q8")).collect()
      .map(r => r.getSeq[java.lang.Long](0))
    assert(fixture.length > 100)
    val edges = Seq[Seq[java.lang.Long]](
      Seq(127L, -127L, null, 0L), Seq(null, null), Seq(), null)
    (fixture.toSeq ++ edges).foreach { v =>
      assert(java.util.Arrays.equals(compiled(v), interpreted(v)), String.valueOf(v))
    }
    assert(compiled(Seq(127L, -127L, null, 0L)).toSeq == Seq[Byte](127, -127, -128, 0))
    assert(compiled(null) == null)

    Seq(Seq[java.lang.Long](1L, 128L), Seq[java.lang.Long](null, -128L)).foreach { v =>
      val c = intercept[IllegalStateException](compiled(v))
      val i = intercept[IllegalStateException](interpreted(v))
      assert(c.getMessage == i.getMessage && c.getMessage.contains("q8 range"), c.getMessage)
    }
  }
}
