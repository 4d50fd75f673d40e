package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.synth.{ColumnCompiler, Synth}

/** Catalyst fast-path coverage: which schemas take the pure-column
  * lowering, schema/shape equivalence with the interpreter, and
  * reference-schema round-trips.
  */
class FastPathSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark

  test("stateless schemas take the fast path; stateful ones fall back") {
    assert(ColumnCompiler.supported(
      """[{"name": "u", "class": "uuid"}, {"name": "i", "class": "ipv4"},
          {"name": "n", "class": "int", "min": 1, "max": 9},
          {"name": "s", "class": "state"}]"""))
    assert(!ColumnCompiler.supported(
      """[{"name": "e", "class": "event", "rate": "1/m"}]""")) // stateful clock
    assert(!ColumnCompiler.supported(
      """[{"name": "w", "class": "random-walk"}]"""))
    assert(!ColumnCompiler.supported(
      """[{"name": "c", "class": "commuter"}]"""))
  }

  test("variable-length flat series: keyed lengths, 0-length records dropped") {
    // exponential default (mean 2): P(len = 0) = 1 - e^{-1/2} ≈ 0.39,
    // E[len] = e^{-1/2}/(1 - e^{-1/2}) ≈ 1.54
    val schema = """[
      {"name": "i", "class": "id"},
      {"class": "sequence", "flat": true, "length": 2,
       "base": {"class": "map", "value": [
         {"name": "x", "class": "double", "min": 0, "max": 1}]}}]"""
    assert(ColumnCompiler.compilePlan(schema, 42L).isDefined,
      "variable-length flat sequence must stay on the fast path")
    val df = Synth.dataFrameAuto(spark, schema, 4000).select("i", "x").persist()
    val ids = df.select("i").distinct().count()
    val rows = df.count()
    df.unpersist()
    // a large fraction of records draw length 0 and are DROPPED
    assert(ids > 2000 && ids < 2800, s"surviving ids $ids outside exp(2) band")
    // mean length over ALL records (including dropped) ≈ 1.54
    val mean = rows.toDouble / 4000
    assert(mean > 1.3 && mean < 1.8, s"mean series length $mean outside exp(2) band")
  }

  test("fast path output matches interpreter schema and constraints") {
    val schema = """[
      {"name": "u", "class": "uuid"},
      {"name": "ip", "class": "ipv4"},
      {"name": "n", "class": "int", "min": 10, "max": 20},
      {"name": "d", "class": "date", "start": "2020-01-01", "end": "2021-01-01"},
      {"name": "b", "class": "browser"},
      {"name": "phone", "class": "join", "separator": "-",
       "value": {"class": "sequence", "array": [
         {"class": "int", "min": 200, "max": 999},
         {"class": "int", "min": 200, "max": 999},
         {"class": "int", "min": 1000, "max": 9999}]}}
    ]"""
    val fast = Synth.dataFrameAuto(spark, schema, 500, seed = 4)
    val slow = Synth.dataFrame(spark, schema, 500, seed = 4)
    assert(fast.schema.map(f => (f.name, f.dataType)) ==
      slow.schema.map(f => (f.name, f.dataType)))
    val uuidRe = "^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$".r
    fast.collect().foreach { r =>
      assert(uuidRe.matches(r.getAs[String]("u")), r.getAs[String]("u"))
      assert(r.getAs[String]("ip").matches("^\\d{1,3}(\\.\\d{1,3}){3}$"))
      val n = r.getAs[Long]("n"); assert(n >= 10 && n < 20)
      assert(r.getAs[String]("d").matches("^2020-.*"))
      assert(Set("Mobile", "Chrome", "Firefox", "Safari", "IE")(r.getAs[String]("b")))
      assert(r.getAs[String]("phone").matches("^\\d{3}-\\d{3}-\\d{4}$"))
    }
  }

  test("fast path ssn: format, issued-area membership, digit ranges") {
    // fields/types projections stay on the interpreter
    assert(!ColumnCompiler.supported(
      """[{"name": "s", "class": "ssn", "fields": "ssn,state"}]"""))
    assert(ColumnCompiler.supported("""[{"name": "s", "class": "ssn"}]"""))
    val areas = graft.runtime.SeedData.ssnAreas.filter(_._3 == "normal")
      .map(_._1).toSet
    val rows = Synth.dataFrameAuto(spark,
      """[{"name": "s", "class": "ssn"}]""", 3000, seed = 11)
      .collect().map(_.getString(0))
    val re = "^(\\d{3})-(\\d{2})-(\\d{4})$".r
    rows.foreach {
      case s @ re(a, g, ser) =>
        assert(areas.contains(a.toInt), s)
        assert(g.toInt >= 1 && g.toInt <= 99, s)
        assert(ser.toInt >= 1 && ser.toInt <= 9999, s)
      case s => fail(s"bad ssn shape: $s")
    }
    // uniform over issued areas: every area should be hit at this n
    assert(rows.map(_.take(3).toInt).distinct.length > areas.size / 2)
  }

  test("fast path header renders the interpreter's template shape") {
    assert(ColumnCompiler.supported("""[{"name": "h", "class": "header"}]"""))
    // prolog stays on the interpreter
    assert(!ColumnCompiler.supported(
      """[{"name": "h", "class": "header", "prolog": "X"}]"""))
    val rows = Synth.dataFrameAuto(spark,
      """[{"name": "h", "class": "header"},
          {"name": "hm", "class": "header", "type": "mal3"},
          {"name": "ha", "class": "header", "type": "ababil"}]""", 200, seed = 3)
      .collect()
    val interpLines = Synth.dataFrame(spark,
      """[{"name": "h", "class": "header"}]""", 50, seed = 3)
      .collect().map(_.getString(0).split("\n").map(_.takeWhile(_ != ':')).toSeq)
    rows.foreach { r =>
      val lines = r.getAs[String]("h").split("\n")
      // same header-name sequence as the interpreter's template
      assert(lines.map(_.takeWhile(_ != ':')).toSeq == interpLines.head)
      assert(lines(0).matches("GET http://foo\\.bar\\.com/\\d{6}/[0-9a-f]{6}\\.(jpg|html) HTTP/1\\.1"))
      assert(r.getAs[String]("hm").contains("user-agent: ")) // mal3 lowercases
      assert(r.getAs[String]("ha").contains("MSIE 6.0"))     // ababil fixed UA
    }
  }

  test("fast path int is uniform over a negative-min range (floor, not truncate)") {
    val xs = Synth.dataFrameAuto(spark,
      """[{"name": "x", "class": "int", "min": -10, "max": 10}]""", 20000, seed = 6)
      .collect().map(_.getLong(0))
    assert(xs.forall(x => x >= -10 && x < 10))
    val counts = xs.groupBy(identity).view.mapValues(_.length)
    val expect = 20000 / 20.0
    // truncation-toward-zero would give 0 double mass and starve -10
    counts.foreach { case (v, n) =>
      assert(math.abs(n - expect) < expect * 0.2, s"value $v count $n vs $expect")
    }
    assert(counts.contains(-10L))
  }

  test("fast path public ipv4 never emits 10/8 or 127/8") {
    Synth.dataFrameAuto(spark, """[{"name": "ip", "class": "ipv4"}]""", 5000, seed = 7)
      .collect().map(_.getString(0).split("\\.")(0).toInt)
      .foreach(a => assert(a != 10 && a != 127 && a >= 1 && a <= 223))
  }

  test("fast path is reproducible under different partitioning (stronger than interpreter)") {
    val schema = """[{"name": "x", "class": "double", "min": 0, "max": 1}]"""
    val a = Synth.dataFrameAuto(spark, schema, 100, seed = 9, partitions = 1)
      .collect().map(_.getDouble(0)).toSeq
    val b = Synth.dataFrameAuto(spark, schema, 100, seed = 9, partitions = 7)
      .collect().map(_.getDouble(0)).toSeq
    assert(a.sorted == b.sorted) // same multiset regardless of partitioning
  }

  test("fast path plan is pure codegen over range: no RDD scan, no shuffle") {
    val df = Synth.dataFrameAuto(spark,
      """[{"name": "u", "class": "uuid"}, {"name": "n", "class": "int"}]""", 10)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("Range"), plan)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Scan ExistingRDD"), plan)
  }

  test("flat sequence with normal and uuid elements takes the fast path") {
    val schema = """[
      {"name": "device", "class": "uuid"},
      {"class": "sequence", "lengthDistribution": 50, "flat": true,
       "base": {"class": "map", "value": [
         {"name": "reading_id", "class": "uuid"},
         {"name": "noise", "class": "normal", "mean": 5, "sd": 2}]}}
    ]"""
    assert(graft.synth.ColumnCompiler.compilePlan(schema, 42L).isDefined,
      "normal/uuid elements should compile to the fast path")
    val rows = Synth.dataFrameAuto(spark, schema, 40, seed = 21).collect()
    assert(rows.length == 2000)
    val uuidRe = "^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$".r
    rows.foreach(r => assert(uuidRe.matches(r.getAs[String]("reading_id"))))
    // per-element uuids are distinct (salted by element index, not constant)
    assert(rows.map(_.getAs[String]("reading_id")).distinct.length == 2000)
    val xs = rows.map(_.getAs[Double]("noise"))
    val mean = xs.sum / xs.length
    val sd = math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / xs.length)
    assert(math.abs(mean - 5) < 0.2, s"mean $mean")
    assert(math.abs(sd - 2) < 0.2, s"sd $sd")
  }

  test("flat IoT sequence takes the fast path: shapes, monotone clocks, walk continuity") {
    val iot = """[
      {"name": "device-id", "class": "uuid"},
      {"class": "flatten", "prefix": "",
       "value": {"class": "zip", "onlyContinental": true, "fields": "latitude, longitude"}},
      {"class": "sequence", "lengthDistribution": 100, "flat": true,
       "base": {"class": "map", "value": [
         {"name": "time", "class": "event", "format": "yyyy-MM-dd HH:mm:ss", "rate": "1/m"},
         {"name": "temp", "class": "random-walk", "start": 30, "mean": 0, "sd": 1}]}}
    ]"""
    assert(graft.synth.ColumnCompiler.compilePlan(iot, 1L).isDefined)
    val df = Synth.dataFrameAuto(spark, iot, 5, seed = 3)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("Range") && !plan.contains("Scan ExistingRDD"), plan.take(400))
    val rows = df.collect()
    assert(rows.length == 500)
    assert(df.columns.toSeq == Seq("device-id", "latitude", "longitude", "time", "temp"))
    // per-device event clocks are strictly monotone (prefix-sum arrivals)
    rows.groupBy(_.getAs[String]("device-id")).values.foreach { dev =>
      assert(dev.length == 100)
      val times = dev.map(_.getAs[String]("time")).toSeq
      assert(times == times.sorted)
      // walk steps are N(0,1): successive temps differ by a few degrees
      val temps = dev.map(_.getAs[Double]("temp")).toSeq
      temps.sliding(2).foreach { case Seq(a, b) =>
        assert(math.abs(b - a) < 6, s"walk step ${b - a}")
      }
    }
  }

  test("fast path preserves spec-order column layout around a flat sequence") {
    val schema = """[
      {"name": "before", "class": "uuid"},
      {"class": "sequence", "lengthDistribution": 3, "flat": true,
       "base": {"class": "map", "value": [
         {"name": "t", "class": "event", "rate": "1/m"},
         {"name": "v", "class": "double", "min": 0, "max": 1}]}},
      {"name": "after", "class": "state"}
    ]"""
    val fast = Synth.dataFrameAuto(spark, schema, 2, seed = 1)
    val slow = Synth.dataFrame(spark, schema, 2, seed = 1)
    assert(fast.columns.toSeq == slow.columns.toSeq)
    assert(fast.columns.toSeq == Seq("before", "t", "v", "after"))
    assert(fast.count() == 6 && slow.count() == 6)
  }

  test("name-family lookups take the fast path with valid shapes") {
    val df = Synth.dataFrameAuto(spark, """[
      {"name": "n", "class": "name", "type": "first_last"},
      {"name": "st", "class": "street-name"},
      {"name": "u", "class": "username"}]""", 200, seed = 2)
    assert(df.queryExecution.executedPlan.toString().contains("Range"))
    df.collect().foreach { r =>
      assert(r.getAs[String]("n").matches("^[A-Z]+ [A-Z]+$"))
      assert(r.getAs[String]("st").split(" ").length == 3)
      assert(r.getAs[String]("u").matches("^[a-z]+\\d{1,3}$"))
    }
  }

  test("IoT flagship: fast path and interpreter agree distributionally (two-sample KS)") {
    // compare the per-device FINAL temps: within-device points are a
    // correlated walk, so the independent sample unit is the device
    // (endpoint ~ N(30, 10) for 100 unit steps)
    def finals(fast: Boolean): Array[Double] = {
      val df = if (fast) Synth.dataFrameAuto(spark, graft.api.CannedSources.iotSchemaJson, 400, 8)
        else Synth.dataFrame(spark, graft.api.CannedSources.iotSchemaJson, 400, 8)
      df.select("device-id", "time", "temp").collect()
        .groupBy(_.getString(0)).values
        .map(dev => dev.maxBy(_.getString(1)).getDouble(2)).toArray
    }
    val a = finals(fast = true).sorted
    val b = finals(fast = false).sorted
    var i = 0; var j = 0; var d = 0.0
    while (i < a.length && j < b.length) {
      if (a(i) <= b(j)) i += 1 else j += 1
      d = math.max(d, math.abs(i.toDouble / a.length - j.toDouble / b.length))
    }
    // 400 independent endpoints per side: KS crit ≈ 1.63·sqrt(2/400) = 0.115 at α=.01
    assert(d < 0.115, s"two-sample KS over IoT endpoint temps: $d")
  }

  test("native synth_series lowering is bit-identical to the built-in HOF lowering") {
    // both lowerings must draw the identical keyed hash stream — the
    // documented guarantee that installing GraftExtensions (which swaps
    // the interpreted transform/aggregate chains for the codegen'd
    // synth_series expression) never changes generated data
    val schema = """[
      {"name": "u", "class": "uuid"},
      {"class": "sequence", "lengthDistribution": 7,
       "base": {"class": "map", "value": [
         {"name": "t", "class": "event", "format": "yyyy-MM-dd HH:mm:ss", "rate": "1/m"},
         {"name": "w", "class": "random-walk", "start": 5, "mean": 0, "sd": 2},
         {"name": "k", "class": "int", "min": -3, "max": 40},
         {"name": "x", "class": "double", "min": 0, "max": 1},
         {"name": "g", "class": "normal", "mean": 1, "sd": 4},
         {"name": "id2", "class": "uuid"}]},
       "flat": true}
    ]"""
    val native = Synth.fastOrInterp(spark, schema, 200, 9L, 0, nativeFns = true)
    val builtin = Synth.fastOrInterp(spark, schema, 200, 9L, 0, nativeFns = false)
    assert(native.schema == builtin.schema)
    val a = native.collect().map(_.toSeq)
    val b = builtin.collect().map(_.toSeq)
    assert(a.length == 200 * 7 && b.length == a.length)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("reference-shipped schemas round-trip through the engine") {
    // the reference's generator schemas, committed as test resources
    // (two are reconstructions; each file's header says which)
    def generator(name: String): String = {
      val in = getClass.getResourceAsStream(s"/graft/generators/$name")
      assert(in != null, s"test resource graft/generators/$name missing")
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    for (name <- Seq("iot-data.json", "terminal.json", "transaction.json",
      "valid_transaction.json")) {
      val df = Synth.dataFrame(spark, generator(name), 5, seed = 1)
      assert(df.count() >= 5, s"$name generated no rows")
    }
    // transaction.json amounts honor [0, 50000)
    val tx = generator("transaction.json")
    Synth.dataFrame(spark, tx, 200, seed = 2).collect().foreach { r =>
      val amt = r.getAs[Long]("transaction_amount")
      assert(amt >= 0 && amt < 50000)
      // format "s" date renders as epoch seconds
      assert(r.getAs[String]("transaction_timestamp").matches("^\\d+$"))
    }
  }
}
