package graft

import org.scalatest.funsuite.AnyFunSuite
import TestSpark._

/** Expression-operator semantics (SURVEY §2.5) on Mongo-shaped documents —
  * nested structs, arrays, missing fields — which the TPC-H oracle tables
  * cannot exercise (FIXTURES.md). */
class ExprSpec extends AnyFunSuite {

  private def one(pipeline: String, docs: String*): Map[String, Any] =
    agg(fromJsonl(docs: _*), pipeline).head

  test("arithmetic operators") {
    val r = one(
      """[{"$project": {"add": {"$add": [1, 2, 3]}, "sub": {"$subtract": [10, "$x"]},
          "mul": {"$multiply": ["$x", 2.5]}, "div": {"$divide": ["$x", 4]},
          "mod": {"$mod": ["$x", 3]}, "abs": {"$abs": -7},
          "pow": {"$pow": [2, 10]}, "sqrt": {"$sqrt": 16},
          "ceil": {"$ceil": 1.2}, "floor": {"$floor": 1.8},
          "round2": {"$round": [1.005, 2]}, "trunc": {"$trunc": [1.999, 0]}}}]""",
      """{"x": 8}""")
    assert(r("add") == 6 && r("sub") == 2L && r("mul") == 20.0 && r("div") == 2.0)
    assert(r("mod") == 2L && r("abs") == 7 && r("pow") == 1024.0 && r("sqrt") == 4.0)
    assert(r("ceil") == 2L && r("floor") == 1L)
    assert(r("round2") == 1.0 && r("trunc") == 1L) // 1.005 is 1.00499… in IEEE; pure-arithmetic half-up
  }

  test("string operators") {
    val r = one(
      """[{"$project": {
          "up": {"$toUpper": "$s"}, "low": {"$toLower": "$s"},
          "len": {"$strLen": "$s"}, "sub": {"$substr": ["$s", 1, 3]},
          "cat": {"$concat": ["$s", "-", {"$toString": "$n"}]},
          "split": {"$split": ["$s", "b"]},
          "trim": {"$trim": {"input": "  x  "}},
          "ltrim": {"$ltrim": {"input": "zzxzz", "chars": "z"}},
          "replaced": {"$replaceAll": {"input": "$s", "find": "b", "replacement": "_"}},
          "rx": {"$regexMatch": {"input": "$s", "regex": "^a.C", "options": "i"}}}}]""",
      """{"s": "abCb", "n": 5}""")
    assert(r("up") == "ABCB" && r("low") == "abcb" && r("len") == 4)
    assert(r("sub") == "bCb" && r("cat") == "abCb-5")
    assert(r("split").asInstanceOf[scala.collection.Seq[_]] == Seq("a", "C", "")) // trailing empty kept, like JS split
    assert(r("trim") == "x" && r("ltrim") == "xzz" && r("replaced") == "a_C_")
    assert(r("rx") == true)
  }

  test("string edge semantics match the reference (null concat, slice substr, strLen 0)") {
    val r = one(
      """[{"$project": {
          "catNull": {"$concat": ["a", "$missing", "b"]},
          "lenNull": {"$strLen": "$missing"},
          "subNegStart": {"$substr": ["$s", -3, 2]},
          "subNegSpill": {"$substr": ["$s", -3, 99]},
          "subNegLen": {"$substr": ["$s", 1, -1]},
          "subPastEnd": {"$substr": ["$s", 10, 5]},
          "subClamped": {"$substr": ["$s", 2, 99]}}}]""",
      """{"s": "abcdef", "other": 1}""")
    // reference $concat = JS Array.join(''): null renders as "" (operators.ts:292-294)
    assert(r("catNull") == "ab")
    // reference $strLen of null is 0 (operators.ts:325-328)
    assert(r("lenNull") == 0)
    // reference $substr = JS str.slice(start, start+len) (operators.ts:296-305)
    assert(r("subNegStart") == "de")   // slice(-3, -1)
    assert(r("subNegSpill") == "def")  // slice(-3, 96) clamps to end
    assert(r("subNegLen") == "")       // slice(1, 0) → empty
    assert(r("subPastEnd") == "")      // start past end
    assert(r("subClamped") == "cdef")  // end clamps to length
  }

  test("division/mod by zero survive the row with JS IEEE results, not an ANSI crash") {
    val r = one(
      """[{"$project": {
          "inf": {"$divide": [10, 0]}, "ninf": {"$divide": [-10, 0]},
          "nan": {"$divide": [0, 0]}, "ok": {"$divide": [10, 4]},
          "modz": {"$mod": [10, 0]}, "modOk": {"$mod": [10, 3]}}}]""",
      """{"x": 1}""")
    assert(r("inf") == Double.PositiveInfinity && r("ninf") == Double.NegativeInfinity)
    assert(r("nan").asInstanceOf[Double].isNaN && r("ok") == 2.5)
    assert(r("modz") == null && r("modOk") == 1L)
    val lg = one(
      """[{"$project": {"l0": {"$ln": 0}, "ln1": {"$ln": -1},
           "g0": {"$log10": 0}, "ok": {"$ln": 1}}}]""",
      """{"x": 1}""")
    assert(lg("l0") == Double.NegativeInfinity && lg("g0") == Double.NegativeInfinity)
    assert(lg("ln1").asInstanceOf[Double].isNaN && lg("ok") == 0.0)
  }

  test("array operators incl. negative indexing and HOFs") {
    val r = one(
      """[{"$project": {
          "size": {"$size": "$a"},
          "first": {"$arrayElemAt": ["$a", 0]}, "last": {"$arrayElemAt": ["$a", -1]},
          "sliceN": {"$slice": ["$a", 2]}, "sliceNeg": {"$slice": ["$a", -2]},
          "slice3": {"$slice": ["$a", 1, 2]},
          "rev": {"$reverseArray": "$a"},
          "catA": {"$concatArrays": ["$a", [99]]},
          "has": {"$in": [30, "$a"]},
          "idx": {"$indexOfArray": ["$a", 30]},
          "idxMissing": {"$indexOfArray": ["$a", 999]},
          "filtered": {"$filter": {"input": "$a", "as": "v", "cond": {"$gt": ["$$v", 15]}}},
          "mapped": {"$map": {"input": "$a", "as": "v", "in": {"$multiply": ["$$v", 2]}}},
          "reduced": {"$reduce": {"input": "$a", "initialValue": 0, "in": {"$add": ["$$value", "$$this"]}}},
          "rng": {"$range": [0, 6, 2]}}}]""",
      """{"a": [10, 20, 30, 40]}""")
    assert(r("size") == 4 && r("first") == 10L && r("last") == 40L)
    assert(r("sliceN").asInstanceOf[scala.collection.Seq[_]] == Seq(10L, 20L))
    assert(r("sliceNeg").asInstanceOf[scala.collection.Seq[_]] == Seq(30L, 40L))
    assert(r("slice3").asInstanceOf[scala.collection.Seq[_]] == Seq(20L, 30L))
    assert(r("rev").asInstanceOf[scala.collection.Seq[_]] == Seq(40L, 30L, 20L, 10L))
    assert(r("catA").asInstanceOf[scala.collection.Seq[_]] == Seq(10L, 20L, 30L, 40L, 99L))
    assert(r("has") == true && r("idx") == 2 && r("idxMissing") == -1)
    assert(r("filtered").asInstanceOf[scala.collection.Seq[_]] == Seq(20L, 30L, 40L))
    assert(r("mapped").asInstanceOf[scala.collection.Seq[_]] == Seq(20L, 40L, 60L, 80L))
    assert(r("reduced") == 100L)
    assert(r("rng").asInstanceOf[scala.collection.Seq[_]] == Seq(0, 2, 4))
  }

  test("set operators sort their results (reference $asSet)") {
    val r = one(
      """[{"$project": {
          "inter": {"$setIntersection": ["$a", "$b"]},
          "union": {"$setUnion": ["$a", "$b"]},
          "diff": {"$setDifference": ["$a", "$b"]},
          "subset": {"$setIsSubset": [[2, 1], "$a"]},
          "eq": {"$setEquals": [[3, 2, 1, 1], [1, 2, 3]]},
          "anyTrue": {"$anyElementTrue": [[0, 0, 2]]},
          "allTrue": {"$allElementsTrue": [[1, 2, 3]]}}}]""",
      """{"a": [3, 1, 2, 2], "b": [2, 4]}""")
    assert(r("inter").asInstanceOf[scala.collection.Seq[_]] == Seq(2L))
    assert(r("union").asInstanceOf[scala.collection.Seq[_]] == Seq(1L, 2L, 3L, 4L))
    assert(r("diff").asInstanceOf[scala.collection.Seq[_]] == Seq(1L, 3L))
    assert(r("subset") == true && r("eq") == true)
    assert(r("anyTrue") == true && r("allTrue") == true)
  }

  test("comparison null-lowest and $cmp") {
    val r = one(
      """[{"$project": {
          "gtNull": {"$gt": ["$x", "$missing"]},
          "ltNull": {"$lt": ["$missing", "$x"]},
          "cmpNull": {"$cmp": ["$missing", "$x"]},
          "eqDeep": {"$eq": [{"a": 1, "b": [1, 2]}, {"a": 1, "b": [1, 2]}]}}}]""",
      """{"x": 5}""")
    assert(r("gtNull") == true && r("ltNull") == true && r("cmpNull") == -1)
    assert(r("eqDeep") == true)
  }

  test("conditionals are lazy and truthiness is Mongo-style") {
    val r = one(
      """[{"$project": {
          "c1": {"$cond": [{"$gt": ["$x", 3]}, "big", "small"]},
          "c2": {"$cond": {"if": false, "then": 1, "else": 2}},
          "ifn": {"$ifNull": ["$missing", "dflt"]},
          "sw": {"$switch": {"branches": [
                  {"case": {"$eq": ["$x", 1]}, "then": "one"},
                  {"case": {"$gte": ["$x", 4]}, "then": "many"}],
                "default": "few"}},
          "andT": {"$and": ["$x", "", true]},
          "orF": {"$or": [0, false, "$missing"]},
          "notX": {"$not": ["$x"]}}}]""",
      """{"x": 5}""")
    assert(r("c1") == "big" && r("c2") == 2 && r("ifn") == "dflt" && r("sw") == "many")
    assert(r("andT") == true) // "" and nonzero numbers are truthy
    assert(r("orF") == false)
    assert(r("notX") == false)
  }

  test("truthiness parity flag: js mode makes empty strings falsy like the reference") {
    // reference applies JS Boolean() (operators.ts:60-68): "" is falsy there
    spark.conf.set("graft.parity.truthiness", "js")
    try {
      val r = one(
        """[{"$project": {
            "andEmpty": {"$and": ["$x", "", true]},
            "orEmpty": {"$or": ["", "$s"]},
            "notEmpty": {"$not": [""]}}}]""",
        """{"x": 5, "s": "y"}""")
      assert(r("andEmpty") == false) // "" falsy in js mode
      assert(r("orEmpty") == true)   // "y" still truthy
      assert(r("notEmpty") == true)
    } finally spark.conf.unset("graft.parity.truthiness")
  }

  test("$multiply parity flag: reference mode snaps products to 1e-12 like JS Math.round") {
    // default: IEEE precision, the SQL-engine answer
    val ieee = one(
      """[{"$project": {"p": {"$multiply": [0.1, 0.2]}}}]""", """{"x": 1}""")
    assert(ieee("p") == 0.1 * 0.2) // 0.020000000000000004
    // reference snaps the noise away (operators.ts:247-253)
    spark.conf.set("graft.parity.multiply", "reference")
    try {
      val r = one(
        """[{"$project": {
            "p": {"$multiply": [0.1, 0.2]},
            "neg": {"$multiply": [-0.1, 0.2]},
            "ints": {"$multiply": [3, 4]},
            "big": {"$multiply": [1.0e20, 3.0]}}}]""",
        """{"x": 1}""")
      assert(r("p") == 0.02)        // noise snapped
      assert(r("neg") == -0.02)     // Math.round is half-toward-+inf; -0.02 is exact
      assert(r("ints") == 12.0)     // always a double under the flag, like JS
      assert(r("big") == 3.0e20)    // beyond 2^52 the snap is identity, not garbage
    } finally spark.conf.unset("graft.parity.multiply")
  }

  test("date operators in UTC incl. Mongo $week") {
    val r = one(
      """[{"$addFields": {"d": {"$toDate": "$iso"}}},
         {"$project": {
           "y": {"$year": "$d"}, "m": {"$month": "$d"}, "dom": {"$dayOfMonth": "$d"},
           "dow": {"$dayOfWeek": "$d"}, "doy": {"$dayOfYear": "$d"},
           "h": {"$hour": "$d"}, "mi": {"$minute": "$d"}, "s": {"$second": "$d"},
           "ms": {"$millisecond": "$d"}, "wk": {"$week": "$d"},
           "str": {"$dateToString": {"format": "%Y-%m-%d %H:%M", "date": "$d"}}}}]""",
      """{"iso": "2024-03-10T15:04:05.250Z"}""")
    // 2024-03-10 is a Sunday → dow 1; Jan 1 2024 is Monday → first Sunday Jan 7
    // → week((doy=70 - 7 + 7)/7) = 10
    assert(r("y") == 2024 && r("m") == 3 && r("dom") == 10 && r("dow") == 1)
    assert(r("doy") == 70 && r("h") == 15 && r("mi") == 4 && r("s") == 5 && r("ms") == 250)
    assert(r("wk") == 10)
    assert(r("str") == "2024-03-10 15:04")
  }

  test("$mergeObjects later-wins on struct fields") {
    val r = one(
      """[{"$project": {"m": {"$mergeObjects": [{"a": 1, "b": "$s"}, {"b": "win", "c": 3}]}}}]""",
      """{"s": "lose"}""")
    val m = r("m").asInstanceOf[org.apache.spark.sql.Row]
    assert(m.getAs[Any]("a") == 1 && m.getAs[Any]("b") == "win" && m.getAs[Any]("c") == 3)
  }

  test("$type / $isNumber / $literal / $$ROOT") {
    val r = one(
      """[{"$project": {
          "tNum": {"$type": "$n"}, "tStr": {"$type": "$s"}, "tArr": {"$type": "$a"},
          "tNull": {"$type": "$missing"},
          "isN": {"$isNumber": "$n"}, "isA": {"$isArray": "$a"},
          "lit": {"$literal": {"$add": "not evaluated"}},
          "root": "$$ROOT"}}]""",
      """{"n": 1.5, "s": "x", "a": [1]}""")
    assert(r("tNum") == "number" && r("tStr") == "string" && r("tArr") == "array")
    assert(r("tNull") == "null")
    assert(r("isN") == true && r("isA") == true)
    assert(r("lit").asInstanceOf[org.apache.spark.sql.Row].getAs[String]("$add") == "not evaluated")
    assert(r("root").asInstanceOf[org.apache.spark.sql.Row].schema.fieldNames.sameElements(Array("a", "n", "s")))
  }

  test("nested paths through structs and arrays of structs") {
    val rows = agg(fromJsonl(
      """{"id": 1, "loc": {"city": "SF", "geo": {"lat": 37.7}}, "items": [{"p": 5, "q": 2}, {"p": 3, "q": 10}]}"""),
      """[{"$project": {"city": "$loc.city", "lat": "$loc.geo.lat",
           "total": {"$sum": {"$map": {"input": "$items", "as": "i",
                     "in": {"$multiply": ["$$i.p", "$$i.q"]}}}}}}]""")
    val r = rows.head
    assert(r("city") == "SF" && r("lat") == 37.7 && r("total") == 40.0)
  }

  test("review regressions: $range edges, default $dateToString, missing nested path") {
    val r = one(
      """[{"$project": {
          "empty1": {"$range": [0, 0]}, "empty2": {"$range": [5, 0]},
          "empty3": {"$range": [5, 0, 1]}, "down": {"$range": [5, 0, -2]},
          "iso": {"$dateToString": {"date": {"$toDate": "$d"}}},
          "missingNested": "$a.zzz",
          "missingDeep": "$nothing.at.all"}}]""",
      """{"d": "2024-03-10T15:04:05.250Z", "a": {"x": 1}}""")
    assert(r("empty1").asInstanceOf[scala.collection.Seq[_]].isEmpty)
    assert(r("empty2").asInstanceOf[scala.collection.Seq[_]].isEmpty)
    assert(r("empty3").asInstanceOf[scala.collection.Seq[_]].isEmpty)
    assert(r("down").asInstanceOf[scala.collection.Seq[_]] == Seq(5, 3, 1))
    assert(r("iso") == "2024-03-10T15:04:05.250Z")
    assert(r("missingNested") == null && r("missingDeep") == null)
  }

  test("$dateAdd/$dateSubtract/$dateDiff/$dateTrunc/$dateFromString/$dateFromParts") {
    val docs = fromJsonl("""{"id": 1, "s": "2020-01-31T10:30:00"}""")
      .selectExpr("id", "cast(s as timestamp) as d")
    def one(expr: String): Any =
      agg(docs, s"""[{"$$project": {"r": $expr}}]""").head("r")
    def iso(expr: String): String =
      one(s"""{"$$dateToString": {"date": $expr, "format": "%Y-%m-%d %H:%M:%S"}}""").toString
    // calendar month add clamps day-of-month and keeps time of day
    assert(iso("""{"$dateAdd": {"startDate": "$d", "unit": "month", "amount": 1}}""")
      == "2020-02-29 10:30:00")
    assert(iso("""{"$dateSubtract": {"startDate": "$d", "unit": "day", "amount": 31}}""")
      == "2019-12-31 10:30:00")
    assert(iso("""{"$dateAdd": {"startDate": "$d", "unit": "hour", "amount": 14}}""")
      == "2020-02-01 00:30:00")
    // boundary-crossing diffs (Mongo semantics), not elapsed units
    assert(one("""{"$dateDiff": {"startDate": {"$dateFromString": {"dateString": "2019-12-31T23:00:00"}},
                                 "endDate": "$d", "unit": "day"}}""") == 31L)
    assert(one("""{"$dateDiff": {"startDate": {"$dateFromString": {"dateString": "2019-12-31T23:00:00"}},
                                 "endDate": "$d", "unit": "month"}}""") == 1L)
    assert(iso("""{"$dateTrunc": {"date": "$d", "unit": "month"}}""") == "2020-01-01 00:00:00")
    // week truncation starts Sunday (2020-01-31 is a Friday → Sunday 01-26)
    assert(iso("""{"$dateTrunc": {"date": "$d", "unit": "week"}}""") == "2020-01-26 00:00:00")
    assert(iso("""{"$dateFromParts": {"year": 2021, "month": 3, "day": 4, "hour": 5}}""")
      == "2021-03-04 05:00:00")
  }

  test("$objectToArray / $arrayToObject round-trip") {
    val docs = fromJsonl("""{"id": 1, "o": {"a": 1, "b": 2}}""")
    val kv = agg(docs,
      """[{"$project": {"pairs": {"$map": {"input": {"$objectToArray": "$o"}, "as": "p",
            "in": {"$concat": ["$$p.k", "=", {"$toString": "$$p.v"}]}}}}}]""").head("pairs")
    assert(kv.asInstanceOf[scala.collection.Seq[_]].toSeq == Seq("a=1", "b=2"))
    // arrayToObject produces a map (dynamic keys); verify via $getField-like access
    val m = agg(docs,
      """[{"$project": {"m": {"$arrayToObject": {"$objectToArray": "$o"}}}},
          {"$project": {"a": "$m.a", "b": "$m.b"}}]""").head
    assert(m("a") == 1L && m("b") == 2L)
  }

  test("$regexFind / $regexFindAll") {
    val docs = fromJsonl("""{"id": 1, "s": "ab12cd345"}""", """{"id": 2, "s": "none"}""")
    val rows = agg(docs,
      """[{"$sort": {"id": 1}},
          {"$project": {"id": 1,
            "f": {"$regexFind": {"input": "$s", "regex": "[0-9]+"}},
            "all": {"$regexFindAll": {"input": "$s", "regex": "[0-9]+"}}}}]""")
    val r1 = rows.head
    val f1 = r1("f").asInstanceOf[org.apache.spark.sql.Row]
    assert(f1.getAs[String]("match") == "12" && f1.getAs[Int]("idx") == 2)
    assert(f1.getAs[scala.collection.Seq[_]]("captures").isEmpty)
    def matches(x: Any): Seq[String] = x.asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]]
      .map(_.getAs[String]("match")).toSeq
    assert(matches(r1("all")) == Seq("12", "345"))
    assert(rows(1)("f") == null)
    assert(rows(1)("all").asInstanceOf[scala.collection.Seq[_]].isEmpty)
  }

  test("$regexFind captures: groups, non-participating groups, findAll per-occurrence") {
    val docs = fromJsonl("""{"id": 1, "s": "ab12cd345"}""", """{"id": 2, "s": "zz9"}""")
    val rows = agg(docs,
      """[{"$sort": {"id": 1}},
          {"$project": {"id": 1,
            "f": {"$regexFind": {"input": "$s", "regex": "([a-z]+)([0-9]+)"}},
            "alt": {"$regexFind": {"input": "$s", "regex": "(ab)|(zz)"}},
            "all": {"$regexFindAll": {"input": "$s", "regex": "([a-z]+)([0-9]+)"}}}}]""")
    val f1 = rows.head("f").asInstanceOf[org.apache.spark.sql.Row]
    assert(f1.getAs[String]("match") == "ab12" && f1.getAs[Int]("idx") == 0)
    assert(f1.getAs[scala.collection.Seq[String]]("captures").toSeq == Seq("ab", "12"))
    // alternation: the branch that did not participate yields a null entry
    val alt1 = rows.head("alt").asInstanceOf[org.apache.spark.sql.Row]
    assert(alt1.getAs[scala.collection.Seq[String]]("captures").toSeq == Seq("ab", null))
    val alt2 = rows(1)("alt").asInstanceOf[org.apache.spark.sql.Row]
    assert(alt2.getAs[scala.collection.Seq[String]]("captures").toSeq == Seq(null, "zz"))
    val all1 = rows.head("all").asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]]
    assert(all1.map(r => (r.getAs[String]("match"), r.getAs[Int]("idx"),
      r.getAs[scala.collection.Seq[String]]("captures").toSeq)).toSeq ==
      Seq(("ab12", 0, Seq("ab", "12")), ("cd345", 4, Seq("cd", "345"))))
  }

  test("native functions resolve over a frame from a second session") {
    // graft's native functions resolve by name in the registry of the
    // session that analyzes the plan; each entry point must register them
    // on its input frame's session, not on the active/default one
    val other = spark.newSession()
    val docs = other.read.json(other.createDataset(Seq(
      """{"g": "a", "s": "ab12cd345", "v": 3, "sign": 1, "ts": "2024-01-01T10:01:00Z"}""",
      """{"g": "a", "s": "x7", "v": 1, "sign": 1, "ts": "2024-01-01T10:02:00Z"}""",
      """{"g": "a", "s": "y8", "v": 2, "sign": 1, "ts": "2024-01-01T10:03:00Z"}"""))(
      org.apache.spark.sql.Encoders.STRING))
      .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    def nums(x: Any): Seq[Long] =
      x.asInstanceOf[scala.collection.Seq[Any]].map(_.toString.toLong).toSeq
    val find = """{"$regexFind": {"input": "$s", "regex": "[0-9]+"}}"""
    val cases: Seq[(String, () => Unit)] = Seq(
      "Aggo.aggregate $minN" -> { () =>
        val r = Aggo.aggregate(docs,
          """[{"$group": {"_id": "$g", "lo": {"$minN": {"input": "$v", "n": 2}}}}]""").collect()
        assert(r.map(x => nums(x.get(1))).toSeq == Seq(Seq(1L, 2L)))
      },
      "Aggo.aggregate $regexFindAll" -> { () =>
        val r = Aggo.aggregate(docs, """[{"$match": {"v": 3}},
            {"$project": {"all": {"$regexFindAll": {"input": "$s", "regex": "[0-9]+"}}}}]""")
          .collect()
        assert(r.head.getSeq[org.apache.spark.sql.Row](0).map(_.getAs[String]("match")) ==
          Seq("12", "345"))
      },
      "Aggo.expression $regexFind" -> { () =>
        val r = docs.select(Aggo.expression(docs, find).getField("match")).collect()
        assert(r.map(_.getString(0)).toSet == Set("12", "7", "8"))
      },
      "Cdc.aggregateDeltas $regexFind" -> { () =>
        val r = graft.streaming.Cdc.aggregateDeltas(docs, "sign",
          s"""{"_id": $find, "n": {"$$sum": 1}}""").collect()
        assert(r.length == 3)
      },
      "Cdc.multisetDeltas $regexFind" -> { () =>
        val r = graft.streaming.Cdc.multisetDeltas(docs, "sign",
          s"""{"_id": $find, "lo": {"$$min": "$$v"}}""").collect()
        assert(r.length == 3)
      },
      "windowedAggregate $minN" -> { () =>
        val r = graft.streaming.GraftStreaming.windowedAggregate(docs, "ts", "1 hour", None,
          "1 hour", """{"lo": {"$minN": {"input": "$v", "n": 2}}}""").collect()
        assert(r.map(x => nums(x.getAs[Any]("lo"))).toSeq == Seq(Seq(1L, 2L)))
      })
    val failed = cases.flatMap { case (name, run) =>
      scala.util.Try(run()).failed.toOption.map(e => s"$name: ${e.getMessage.take(200)}")
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("bit operators and N-variant array expressions") {
    val docs = fromJsonl("""{"a": 12, "b": 10, "arr": [5, 1, null, 9, 3]}""")
    val r = agg(docs,
      """[{"$project": {
          "and": {"$bitAnd": ["$a", "$b"]}, "or": {"$bitOr": ["$a", "$b"]},
          "xor": {"$bitXor": ["$a", "$b"]}, "not": {"$bitNot": "$a"},
          "f2": {"$firstN": {"input": "$arr", "n": 2}},
          "l2": {"$lastN": {"input": "$arr", "n": 2}},
          "mn2": {"$minN": {"input": "$arr", "n": 2}},
          "mx2": {"$maxN": {"input": "$arr", "n": 2}}}}]""").head
    assert(r("and") == 8L && r("or") == 14L && r("xor") == 6L && r("not") == -13L)
    def s(x: Any) = x.asInstanceOf[scala.collection.Seq[_]].toSeq
    assert(s(r("f2")) == Seq(5L, 1L) && s(r("l2")) == Seq(9L, 3L))
    assert(s(r("mn2")) == Seq(1L, 3L) && s(r("mx2")) == Seq(9L, 5L))
  }

  test("$median/$percentile/$top/$bottom/$topN/$bottomN accumulators") {
    val docs = fromJsonl(
      """{"g": 1, "v": 10.0, "id": 1}""", """{"g": 1, "v": 30.0, "id": 2}""",
      """{"g": 1, "v": 20.0, "id": 3}""", """{"g": 1, "v": 40.0, "id": 4}""")
    val r = agg(docs,
      """[{"$group": {"_id": "$g",
          "med": {"$median": {"input": "$v"}},
          "pct": {"$percentile": {"input": "$v", "p": [0.25, 0.75]}},
          "top": {"$top": {"output": "$id", "sortBy": {"v": -1}}},
          "bot": {"$bottom": {"output": "$id", "sortBy": {"v": -1}}},
          "top2": {"$topN": {"output": "$id", "sortBy": {"v": -1}, "n": 2}},
          "bot2": {"$bottomN": {"output": "$id", "sortBy": {"v": -1}, "n": 2}}}}]""").head
    assert(r("med") == 25.0)
    assert(r("pct").asInstanceOf[scala.collection.Seq[_]].toSeq == Seq(17.5, 32.5))
    assert(r("top") == 4L && r("bot") == 1L)
    def s(x: Any) = x.asInstanceOf[scala.collection.Seq[_]].toSeq
    assert(s(r("top2")) == Seq(4L, 2L) && s(r("bot2")) == Seq(3L, 1L))
  }

  test("$let scoped vars; ISO week/day/weekYear") {
    val docs = fromJsonl("""{"a": 3, "b": 4, "d": "2021-01-01T00:00:00"}""")
      .selectExpr("a", "b", "cast(d as timestamp) as d")
    val r = agg(docs,
      """[{"$project": {
          "hyp": {"$let": {"vars": {"a2": {"$multiply": ["$a", "$a"]},
                                    "b2": {"$multiply": ["$b", "$b"]}},
                           "in": {"$sqrt": {"$add": ["$$a2", "$$b2"]}}}},
          "iw": {"$isoWeek": "$d"}, "idow": {"$isoDayOfWeek": "$d"},
          "iwy": {"$isoWeekYear": "$d"}}}]""").head
    assert(r("hyp") == 5.0)
    // 2021-01-01 is a Friday of ISO week 53 of ISO year 2020
    assert(r("iw") == 53 && r("idow") == 5 && r("iwy") == 2020)
  }

  test("$convert with onError/onNull; seeded $rand/$sampleRate are deterministic") {
    val docs = fromJsonl(
      """{"id": 1, "s": "42"}""", """{"id": 2, "s": "nope"}""", """{"id": 3, "s": null}""")
    val rows = agg(docs,
      """[{"$sort": {"id": 1}},
          {"$project": {"id": 1,
            "v": {"$convert": {"input": "$s", "to": "int", "onError": -1, "onNull": 0}}}}]""")
    assert(rows.map(_("v")) == Seq(42, -1, 0))
    // seeded determinism: same pipeline twice → same sample
    val big = Aggo.fromJSONL(spark, (1 to 200).map(i => s"""{"id": $i}"""))
    def ids() = agg(big, """[{"$match": {"$sampleRate": 0.3}}, {"$project": {"id": 1}}]""")
      .map(_("id")).toSet
    val first = ids()
    assert(first == ids() && first.nonEmpty && first.size < 200)
    val r = agg(big, """[{"$match": {"id": 1}}, {"$project": {"r": {"$rand": {}}}}]""").head("r")
    assert(r.asInstanceOf[Double] >= 0.0 && r.asInstanceOf[Double] < 1.0)
  }

  test("$setField / $unsetField") {
    val docs = fromJsonl("""{"o": {"a": 1, "b": 2}}""")
    val r = agg(docs,
      """[{"$project": {
          "set": {"$setField": {"field": "b", "input": "$o", "value": 9}},
          "uns": {"$unsetField": {"field": "b", "input": "$o"}}}}]""").head
    val set = r("set").asInstanceOf[org.apache.spark.sql.Row]
    assert(set.getAs[Long]("a") == 1L && set.getAs[Int]("b") == 9)
    assert(r("uns").asInstanceOf[org.apache.spark.sql.Row].schema.fieldNames.toSeq == Seq("a"))
  }

  test("$derivative and $integral window operators") {
    val docs = fromJsonl(
      """{"k": 1, "t": 0, "v": 0.0}""", """{"k": 1, "t": 2, "v": 10.0}""",
      """{"k": 1, "t": 4, "v": 30.0}""")
    val rows = agg(docs,
      """[{"$setWindowFields": {"partitionBy": "$k", "sortBy": {"t": 1},
          "output": {
            "rate": {"$derivative": {"input": "$v"}, "window": {"documents": [-1, 0]}},
            "area": {"$integral": {"input": "$v"}}}}},
          {"$sort": {"t": 1}}, {"$project": {"t": 1, "rate": 1, "area": 1}}]""")
    assert(rows.map(_("rate")) == Seq(null, 5.0, 10.0)) // Δv/Δt over trailing pair
    assert(rows.map(_("area")) == Seq(0.0, 10.0, 50.0)) // running trapezoid
  }

  test("windowed $median/$percentile/$covariancePop/$covarianceSamp") {
    val docs = fromJsonl(
      """{"k": 1, "t": 1, "x": 1.0, "y": 2.0}""", """{"k": 1, "t": 2, "x": 2.0, "y": 4.0}""",
      """{"k": 1, "t": 3, "x": 3.0, "y": 6.0}""", """{"k": 1, "t": 4, "x": 4.0, "y": 8.0}""")
    val r = agg(docs,
      """[{"$setWindowFields": {"partitionBy": "$k", "sortBy": {"t": 1},
          "output": {
            "med": {"$median": {"input": "$x"}},
            "pct": {"$percentile": {"input": "$x", "p": [0.25]}},
            "cvp": {"$covariancePop": ["$x", "$y"]},
            "cvs": {"$covarianceSamp": ["$x", "$y"]}}}},
          {"$match": {"t": 4}},
          {"$project": {"med": 1, "pct": 1, "cvp": 1, "cvs": 1}}]""").head
    assert(r("med") == 2.5)
    assert(r("pct").asInstanceOf[scala.collection.Seq[_]].toSeq == Seq(1.75))
    // cov(x, 2x): pop = 2·var_pop(x) = 2·1.25; samp = 2·var_samp = 2·(5/3)
    assert(math.abs(r("cvp").asInstanceOf[Double] - 2.5) < 1e-12)
    assert(math.abs(r("cvs").asInstanceOf[Double] - 10.0 / 3) < 1e-12)
  }

  test("$expMovingAvg: sequential recurrence per partition, null passthrough") {
    val docs = fromJsonl(
      """{"k": 1, "t": 1, "v": 10.0}""", """{"k": 1, "t": 2, "v": 20.0}""",
      """{"k": 1, "t": 3, "v": null}""", """{"k": 1, "t": 4, "v": 30.0}""",
      """{"k": 2, "t": 1, "v": 100.0}""")
    val rows = agg(docs,
      """[{"$setWindowFields": {"partitionBy": "$k", "sortBy": {"t": 1},
          "output": {"ema": {"$expMovingAvg": {"input": "$v", "alpha": 0.5}},
                     "rn": {"$documentNumber": {}}}}},
          {"$sort": {"k": 1, "t": 1}}, {"$project": {"k": 1, "t": 1, "ema": 1, "rn": 1}}]""")
    assert(rows.map(_("ema")) == Seq(10.0, 15.0, null, 22.5, 100.0))
    assert(rows.map(_("rn")) == Seq(1, 2, 3, 4, 1)) // other outputs still computed
    // N form: alpha = 2/(N+1)
    val n3 = agg(docs,
      """[{"$setWindowFields": {"partitionBy": "$k", "sortBy": {"t": 1},
          "output": {"ema": {"$expMovingAvg": {"input": "$v", "N": 3}}}}},
          {"$match": {"k": 1, "t": 2}}, {"$project": {"ema": 1}}]""").head("ema")
    assert(math.abs(n3.asInstanceOf[Double] - (0.5 * 20 + 0.5 * 10)) < 1e-12)
  }

  test("$locf and $linearFill window operators") {
    val docs = fromJsonl(
      """{"k": 1, "t": 0, "v": 10.0}""", """{"k": 1, "t": 1, "v": null}""",
      """{"k": 1, "t": 2, "v": null}""", """{"k": 1, "t": 3, "v": 40.0}""",
      """{"k": 1, "t": 4, "v": null}""")
    val rows = agg(docs,
      """[{"$setWindowFields": {"partitionBy": "$k", "sortBy": {"t": 1},
          "output": {"lo": {"$locf": "$v"}, "li": {"$linearFill": "$v"}}}},
          {"$sort": {"t": 1}}, {"$project": {"t": 1, "lo": 1, "li": 1}}]""")
    assert(rows.map(_("lo")) == Seq(10.0, 10.0, 10.0, 40.0, 40.0))
    assert(rows.map(_("li")) == Seq(10.0, 20.0, 30.0, 40.0, null))
  }

  test("$zip truncates to shortest; useLongestLength pads with defaults; null input yields null") {
    val docs = fromJsonl("""{"a": [1, 2, 3], "b": ["x", "y"]}""")
    def elems(v: Any): Seq[(Any, Any)] =
      v.asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]]
        .map(r => (r.get(0), r.get(1))).toSeq
    val short = agg(docs, """[{"$project": {"z": {"$zip": {"inputs": ["$a", "$b"]}}}}]""").head("z")
    assert(elems(short) == Seq((1L, "x"), (2L, "y")))
    val longPad = agg(docs,
      """[{"$project": {"z": {"$zip": {"inputs": ["$a", "$b"], "useLongestLength": true}}}}]"""
    ).head("z")
    assert(elems(longPad) == Seq((1L, "x"), (2L, "y"), (3L, null)))
    val longDef = agg(docs,
      """[{"$project": {"z": {"$zip": {"inputs": ["$a", "$b"], "useLongestLength": true,
           "defaults": [0, "pad"]}}}}]""").head("z")
    assert(elems(longDef) == Seq((1L, "x"), (2L, "y"), (3L, "pad")))
    val nul = agg(docs, """[{"$project": {"z": {"$zip": {"inputs": ["$a", "$missing"]}}}}]""").head("z")
    assert(nul == null)
  }

  test("unknown operator throws (closed registry, expressions.ts:147)") {
    assertThrows[graft.model.GraftException] {
      agg(fromJsonl("""{"x": 1}"""), """[{"$project": {"y": {"$nope": 1}}}]""")
    }
    for (args <- Seq("""["$a"]""", "[]")) {
      val e = intercept[graft.model.GraftException] {
        agg(fromJsonl("""{"a": [1]}"""), s"""[{"$$project": {"y": {"$$setEquals": $args}}}]""")
      }
      assert(e.getMessage.contains("$setEquals expects at least 2 arguments"), s"$args: ${e.getMessage}")
    }
  }
}
