package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The native NearestCell argmax: bit-parity with the composed
  * transform + array_max chain it replaced in assignCells, the
  * lowest-cell tie rule, codegen placement, and edge semantics.
  */
class NearestCellSpec extends SparkSpec {
  import spark.implicits._

  /** The pre-fusion assignCells selection, kept as the parity oracle. */
  private def composed(v: org.apache.spark.sql.Column,
                       es: org.apache.spark.sql.Column) =
    (-array_max(transform(es, e =>
      struct(CosineSimilarity(v, e.getField("cv")).as("d"),
        (-e.getField("cell")).as("nc")))).getField("nc")).cast("int")

  test("matches the composed argmax on real embeddings vs real Lloyd-style centroids") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    // centroids: the first 8 vectors, packed the way assignCells packs
    val packed = emb.where($"vec_id" < 8)
      .select($"vec_id".cast("int").as("cell"), $"v".as("cv"))
      .agg(array_sort(collect_list(struct($"cell", $"cv"))).as("es"))
    val bad = emb.crossJoin(broadcast(packed))
      .select(NearestCell($"v", $"es").as("native"),
        composed($"v", $"es").as("hof"))
      .where($"native" =!= $"hof")
      .count()
    assert(bad == 0, s"$bad rows diverged from the composed argmax")
  }

  test("l2 variant matches the composed argmin chain pqAssign used") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("sv"))
    val packed = emb.where($"vec_id" < 8)
      .select($"vec_id".cast("int").as("cell"), $"sv".as("cv"))
      .agg(array_sort(collect_list(struct($"cell", $"cv"))).as("es"))
    val bad = emb.crossJoin(broadcast(packed))
      .withColumn("hof", expr(
        """array_min(transform(es, e -> named_struct(
             'd', aggregate(zip_with(sv, e.cv, (x, y) -> (x - y) * (x - y)),
                            0D, (a2, z) -> a2 + z),
             'c', e.cell))).c"""))
      .withColumn("native", NearestCell.l2($"sv", $"es"))
      .where($"native" =!= $"hof")
      .count()
    assert(bad == 0, s"$bad rows diverged from the composed argmin")
  }

  test("ties break to the lowest cell id; degenerate entries are skipped") {
    val es = array(
      struct(lit(7).as("cell"), array(lit(1.0), lit(0.0)).as("cv")),
      struct(lit(3).as("cell"), array(lit(2.0), lit(0.0)).as("cv")), // same cosine as cell 7
      struct(lit(1).as("cell"), array(lit(0.0), lit(0.0)).as("cv")), // zero norm: skipped
      struct(lit(0).as("cell"), array(lit(-1.0), lit(0.0)).as("cv")))
    val r = Seq(Tuple1(Seq(5.0, 0.0))).toDF("v")
      .select(NearestCell($"v", es).as("cell")).head().getInt(0)
    assert(r == 3, s"expected tie to resolve to cell 3, got $r")
    // all entries degenerate -> null
    val allBad = array(struct(lit(1).as("cell"),
      array(lit(0.0), lit(0.0)).as("cv")))
    assert(Seq(Tuple1(Seq(1.0, 2.0))).toDF("v")
      .select(NearestCell($"v", allBad).as("cell")).head().isNullAt(0))
    // a zero-norm QUERY vector scores no cosine against any entry ->
    // null cell (pinned: callers groupBy cell and such rows drop out,
    // matching the "undefined similarity" semantics, NOT the old
    // crossJoin+row_number form's arbitrary lowest-cell assignment)
    assert(Seq(Tuple1(Seq(0.0, 0.0))).toDF("v")
      .select(NearestCell($"v", es).as("cell")).head().isNullAt(0))
  }

  test("null entries in the centroid array are skipped, not NPE") {
    // containsNull=true is accepted by checkInputDataTypes, so a null
    // entry must score nothing (parity with transform+array_max, whose
    // struct lanes null out and lose to any real score)
    val es = array(
      lit(null).cast("struct<cell:int,cv:array<double>>"),
      struct(lit(5).as("cell"), array(lit(1.0), lit(0.0)).as("cv")))
    val r = Seq(Tuple1(Seq(2.0, 0.0))).toDF("v")
      .select(NearestCell($"v", es).as("c"),
        NearestCell.l2($"v", es).as("c2")).head()
    assert(r.getInt(0) == 5 && r.getInt(1) == 5)
  }

  test("unpack memo is task-scoped: hit within a task, cleared at task completion") {
    // The memo keys on broadcast-page identity (baseObject, offset,
    // len), which is only stable WITHIN a task — a freed page could be
    // reused with different bytes by a later task (ADVICE r13 #1). So
    // the contract is: same UnsafeArrayData re-read inside one task =
    // ONE unpack; the same object seen by the NEXT task must re-unpack
    // (the completion listener cleared the thread's cache).
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    val esType = ArrayType(StructType(Seq(
      StructField("cell", IntegerType),
      StructField("cv", ArrayType(DoubleType)))))
    val catalystEs = CatalystTypeConverters.createToCatalystConverter(esType)(
      Seq(org.apache.spark.sql.Row(0, Seq(1.0, 0.0)),
        org.apache.spark.sql.Row(1, Seq(0.0, 1.0))))
    // an on-heap UnsafeArrayData — the exact shape the cached path accepts
    val es = UnsafeProjection.create(Array[DataType](esType))(
      InternalRow(catalystEs)).copy().getArray(0)
    val v = new GenericArrayData(Array[Any](2.0, 0.5))
    val t0 = NearestCell.unpackCount.get()
    org.apache.spark.graftTaskContextBridge.withTaskContext {
      assert(NearestCell.compute(v, es, false) == 0)
      assert(NearestCell.compute(v, es, false) == 0)
    }
    val t1 = NearestCell.unpackCount.get()
    assert(t1 - t0 == 1,
      s"expected exactly 1 unpack for 2 same-task reads, got ${t1 - t0}")
    org.apache.spark.graftTaskContextBridge.withTaskContext {
      assert(NearestCell.compute(v, es, false) == 0)
    }
    assert(NearestCell.unpackCount.get() - t1 == 1,
      "cache survived a task boundary: the next task must re-unpack the same pages")
  }

  test("runs inside whole-stage codegen") {
    // pin the corpus frame, as assignCells' callers do: without the pin's
    // boundary Catalyst collapses the float→double transform() HOF into
    // the same projection, and a projection containing a CodegenFallback
    // HOF falls back wholesale
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
      .transform(graft.runner.Pin(_))
    val es = array(struct(lit(0).as("cell"),
      array((0 until 64).map(_ => lit(0.1)): _*).as("cv")))
    val df = emb.select(NearestCell($"v", es).as("cell"))
    assert("""\*\(\d+\) Project \[nearestcell""".r
      .findFirstIn(df.queryExecution.executedPlan.toString).isDefined,
      df.queryExecution.executedPlan.toString.take(400))
  }
}
