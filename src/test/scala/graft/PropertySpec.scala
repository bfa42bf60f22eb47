package graft

import graft.sydraql.{Ast, Lexer, Parser}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests per the SURVEY §5 rebuild test plan: time_bucket edge
  * cases, lexer/parser round-trips, translator totality.
  */
class PropertySpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  private def bucketRef(step: Long, ts: Long): Long =
    Math.floorDiv(ts, step) * step

  test("mutated queries always fail with QueryError, never an internal crash") {
    val base = "select time_bucket(3600, time) as b, avg(value) as a from click " +
      "where time >= 0 and time < 7200 group by time_bucket(3600, time) order by b limit 5"
    val mutation = for {
      kind <- Gen.choose(0, 3)
      at <- Gen.choose(0, base.length - 1)
      len <- Gen.choose(1, 12)
      junk <- Gen.listOfN(len, Gen.oneOf("()+*/,<>=~!.'\"%&|; abc123".toSeq)).map(_.mkString)
    } yield kind match {
      case 0 => base.substring(0, at) + base.substring(math.min(base.length, at + len)) // delete
      case 1 => base.substring(0, at) + junk + base.substring(at) // insert
      case 2 => base.substring(0, at) + junk // truncate + junk
      case _ => base.take(at) // truncate
    }
    check(Prop.forAll(mutation) { (q: String) =>
      try {
        graft.sydraql.Validator.validate(Parser.parse(q))
        true // mutants that stay grammatical are fine
      } catch {
        case _: graft.sydraql.QueryError => true // the contract
        case _: Throwable => false // anything else is an internal crash
      }
    })
  }

  test("driver merges of cell partials and served results equal the Spark merge on random cells") {
    import graft.storage.SketchCells
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.TypeUtils
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.graftshim.GraftShim
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val spark = TestSpark.spark
    val step = 2 * 86400L
    // NULL, NaN and both zeros beside ordinary values; one point per
    // (series, hour) slot of three days, so series share equal `t`
    val value: Gen[Option[Double]] = Gen.frequency(
      2 -> Gen.const(None), 1 -> Gen.const(Some(Double.NaN)), 1 -> Gen.const(Some(-0.0)),
      1 -> Gen.const(Some(0.0)), 4 -> Gen.choose(-5, 5).map(i => Some(i.toDouble)),
      2 -> Gen.choose(-1e3, 1e3).map(Some(_)))
    val point = for {
      s <- Gen.oneOf("cpu", "mem", "io")
      host <- Gen.oneOf(Some("a"), Some("b"), None) // None: no tag, a NULL tagval
      hour <- Gen.choose(0L, 71L)
      v <- value
    } yield Row(s, host.fold(Map.empty[String, String])(h => Map("host" -> h)), hour * 3600L,
      v.map(Double.box).orNull)
    val input = for {
      pts <- Gen.choose(1, 40).flatMap(Gen.listOfN(_, point))
      grouping <- Gen.choose(0, 2) // global, by tagval, by 2-day bucket
      lo <- Gen.choose(0, 3)
      days <- Gen.choose(0, 3) // 0 days or a window past the data: no cell
    } yield (pts, grouping, lo, days)
    val schema = StructType(Seq(StructField("series", StringType), StructField("tags",
      MapType(StringType, StringType)), StructField("time", LongType), StructField("value", DoubleType)))
    val parts = SketchCells.partials(Seq("host"))
    def same(t: DataType, a: Any, b: Any): Boolean = (a, b, t) match {
      case (null, null, _) => true
      case (null, _, _) | (_, null, _) => false
      case (x: Double, y: Double, _) =>
        (x.isNaN && y.isNaN) || x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
      case (x: Long, y: Long, _) => x == y
      case (x: Array[Byte], y: Array[Byte], _) => java.util.Arrays.equals(x, y)
      case _ => TypeUtils.getInterpretedOrdering(t).equiv(a, b)
    }
    val prop = Prop.forAll(input) { case (pts, grouping, lo, days) =>
      val cells = SketchCells.cellsOf(spark.createDataFrame(pts.asJava, schema)
        .withColumn("series_id", graft.core.Functions.seriesId(col("series"), col("tags"))),
        Some("host"), Seq("host"))
      val cs = cells.schema
      val window = cells.queryExecution.executedPlan.executeCollect().toSeq.filter { r =>
        val d = r.getLong(cs.fieldIndex("day")); d >= lo * 86400L && d < (lo + days) * 86400L
      }
      val at = cs.fieldIndex(_: String)
      // the Spark merge over the same rows in the same order: one partition
      val frame = GraftShim.localFrame(spark, cs, window).coalesce(1)
      val (sparkKey, localKey) = grouping match {
        case 0 => (Nil, None)
        case 1 => (Seq(col("tagval").as("k")),
          Some((r: InternalRow) => Seq(if (r.isNullAt(at("tagval"))) null else r.getUTF8String(at("tagval")))))
        case _ => (Seq(graft.core.Functions.timeBucket(lit(step), col("day")).as("k")),
          Some((r: InternalRow) => Seq(graft.core.Functions.timeBucketOf(step, r.getLong(at("day")), 0L))))
      }
      val aggs = parts.map(p => p.merge.as("__" + p.name))
      val sparkMerged: DataFrame =
        if (sparkKey.isEmpty) frame.agg(aggs.head, aggs.tail: _*)
        else frame.groupBy(sparkKey: _*).agg(aggs.head, aggs.tail: _*)
      val local = SketchCells.mergeLocal(window, localKey,
        parts.map(p => (p, at(p.name), cs(p.name).dataType)))
      val localMerged = GraftShim.localFrame(spark, sparkMerged.schema, local)
      val off = if (sparkKey.isEmpty) 0 else 1
      def byKey(rows: Seq[InternalRow]) = rows.map(r =>
        (if (off == 0) None else Option(r.get(0, sparkMerged.schema(0).dataType))) -> r).toMap
      val (want, got) = (byKey(sparkMerged.queryExecution.executedPlan.executeCollect().toSeq),
        byKey(local))
      val partialsAgree = want.keySet == got.keySet && want.forall { case (k, w) =>
        parts.zipWithIndex.forall { case (p, i) =>
          val t = cs(p.name).dataType
          same(t, w.get(i + off, t), got(k).get(i + off, t))
        }
      }
      // each served result, projected from either merge
      val served = SketchCells.servedAggs.values.toSeq ++
        Seq(SketchCells.quantileServed(0.5), SketchCells.ndvServed("host"))
      def results(df: DataFrame) = df.select(
        (if (off == 0) Nil else Seq(col("k"))) ++ served.zipWithIndex.map { case (a, i) =>
          a.result(n => col("__" + n)).as(s"r$i") }: _*).collect()
        .map(r => (if (off == 0) None else Option(r.get(0))) -> r).toMap
      val (wr, gr) = (results(sparkMerged), results(localMerged))
      val resultsAgree = wr.keySet == gr.keySet && wr.forall { case (k, w) =>
        served.indices.forall(i => same(DoubleType, w.get(i + off), gr(k).get(i + off)))
      }
      (grouping != 0 || got.size == 1) && partialsAgree && resultsAgree
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("time_bucket = floor division for any ts and positive step") {
    check(Prop.forAll(Gen.chooseNum(-4102444800L, 4102444800L), Gen.chooseNum(1L, 864000L)) {
      (ts: Long, step: Long) =>
        val b = bucketRef(step, ts)
        b <= ts && ts - b < step && b % step == 0
    })
  }

  test("lexer round-trips integer and float literals") {
    check(Prop.forAll(Gen.chooseNum(0L, Long.MaxValue / 2)) { (n: Long) =>
      Lexer.tokenize(n.toString).head == Lexer.TInt(n, 0)
    })
    check(Prop.forAll(Gen.chooseNum(0.0, 1e15)) { (d: Double) =>
      val s = java.math.BigDecimal.valueOf(d).toPlainString
      Lexer.tokenize(s).head match {
        case Lexer.TFloat(v, _) => math.abs(v - d) <= math.ulp(d) * 4
        case Lexer.TInt(v, _) => v.toDouble == d
        case _ => false
      }
    })
  }

  test("string literals with quotes round-trip through the lexer") {
    val strGen = Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.const('\''), Gen.const(' ')))
      .map(_.mkString)
    check(Prop.forAll(strGen) { (s: String) =>
      val quoted = "'" + s.replace("'", "''") + "'"
      Lexer.tokenize(quoted).head == Lexer.TString(s, 0)
    })
  }

  test("parser accepts any comparison of time against any integer") {
    check(Prop.forAll(Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2),
      Gen.oneOf(">", ">=", "<", "<=", "=")) { (n: Long, op: String) =>
      val q = s"select value from m where time $op ${if (n < 0) s"0 - ${-n}" else n}"
      Parser.parse(q).isInstanceOf[Ast.Select]
    })
  }

  test("translator never throws, always Success or 0A000 Failure") {
    val sqlGen = Gen.oneOf(
      Gen.alphaNumStr.map(s => s"SELECT $s FROM t"),
      Gen.alphaNumStr.map(s => s"UPDATE $s SET x = 1"),
      Gen.alphaNumStr.map(s => s"DELETE FROM $s"),
      Gen.alphaNumStr,
      Gen.const("SELECT 1"))
    check(Prop.forAll(sqlGen) { (sql: String) =>
      graft.api.Translator.translate(sql) match {
        case graft.api.Translator.Success(s) => s.nonEmpty
        case graft.api.Translator.Failure(state, _) => state == "0A000"
      }
    })
  }

  test("shingle-hash arithmetic stays in [0, 2^31) for any word hashes") {
    val h = Gen.chooseNum(0L, 2147483646L)
    check(Prop.forAll(h, h, h) { (a: Long, b: Long, c: Long) =>
      import graft.pipeline.TextAnalysis.{ShingleA, ShingleB, ShingleP}
      val v = (a * ShingleA % ShingleP * ShingleA % ShingleP
        + b * ShingleB % ShingleP + c) % ShingleP
      v >= 0 && v < ShingleP
    })
  }
}
