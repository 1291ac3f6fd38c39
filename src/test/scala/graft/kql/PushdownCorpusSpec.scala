package graft.kql

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Port of the reference's shared connector test corpus
  * (`tests/common/test_cases.rs:79-441`, 42 cases): same KQL, same expected
  * counts/rows. The two 10-row fixtures, `pushdown/stackoverflow.posts.10.json`
  * and `pushdown/hdfs.logs.10.json` under `src/test/resources/`, are
  * hand-written stand-ins for the reference's data files, which are not
  * part of this repo: kept here, they let the spec run from a clean
  * checkout and read nothing outside it. They keep the reference's shapes
  * (FIXTURES.md §1–§2: fields missing rather than null, answers without
  * titles or tags, an epoch-seconds hdfs `timestamp` and nested structs),
  * and their text is chosen so that every expected value below follows from
  * the rows by hand, with no tie or row order deciding it; FIXTURES.md §1
  * lists the rows behind each value. The reference asserts residual plans
  * per connector too; our analog of "was it pushed down" lives in PlanSpec,
  * so here we assert results only.
  */
class PushdownCorpusSpec extends AnyFunSuite {
  import TestSpark.spark

  /** A fixture's JSON lines, read off the test classpath. */
  private def res(name: String): Dataset[String] = {
    val path = s"pushdown/$name"
    val in = getClass.getClassLoader.getResourceAsStream(path)
    require(in != null, s"test classpath resource '$path' not found (src/test/resources/$path)")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try spark.createDataset(src.getLines().toList)(Encoders.STRING) finally src.close()
  }

  private lazy val cat: Catalog = {
    val c = new Catalog(spark)
    def stack: DataFrame = spark.read.json(res("stackoverflow.posts.10.json"))
      .withColumn("@time", col("creationDate").cast("timestamp"))
    def hdfs: DataFrame = spark.read.json(res("hdfs.logs.10.json"))
      .withColumn("@time", timestamp_seconds(col("timestamp")))
    c.register("test.stack", stack)
    c.register("test.stack_mirror", stack)
    c.register("test.hdfs", hdfs)
    c
  }

  private def count(kql: String): Long = Kql.run(spark, cat, kql).count()

  /** Collected rows as maps with nulls omitted (missing ≈ absent key). */
  private def rows(kql: String): Seq[Map[String, Any]] =
    Kql.run(spark, cat, kql).collect().toSeq.map { r =>
      r.schema.fieldNames.zipWithIndex.flatMap { case (n, i) =>
        if (r.isNullAt(i)) None else Some(n -> r.get(i))
      }.toMap
    }

  private def checkCount(name: String, kql: String, expected: Long): Unit =
    test(name) { assert(count(kql) == expected) }

  // ───── basic filters (test_cases.rs:81-141) ─────
  checkCount("filter_eq", "test.stack | where acceptedAnswerId == 12446", 1)
  checkCount("filter_ne", "test.stack | where questionId != 4", 8)
  checkCount("filter_in", "test.stack | where acceptedAnswerId in (12446, 31)", 2)
  checkCount("filter_range", "test.stack | where questionId >= 4 and questionId < 15", 8)
  checkCount("filter_multiple_or",
    "test.stack | where questionId == 4 or questionId == 6 or questionId == 11", 5)
  checkCount("filter_exists", "test.stack | where exists(answerId)", 2)
  checkCount("filter_not_exists", "test.stack | where not(exists(answerId))", 8)
  checkCount("filter_not", "test.stack | where not(questionId == 4)", 8)
  checkCount("filter_nested_and_or",
    "test.stack | where (questionId > 10 and questionId < 15) or questionId == 4", 6)
  checkCount("filter_no_match", "test.stack | where questionId == 99999", 0)

  // ───── has / has_cs / startswith / contains (rs:142-205) ─────
  checkCount("filter_has_cs_uppercase", "test.stack | where body has_cs \"This\"", 1)
  checkCount("filter_has_cs_lowercase", "test.stack | where body has_cs \"this\"", 4)
  checkCount("filter_has_uppercase", "test.stack | where body has \"This\"", 4)
  checkCount("filter_has_lowercase", "test.stack | where body has \"this\"", 4)
  checkCount("filter_has_word_boundary", "test.stack | where body has \"code\"", 1)
  checkCount("filter_startswith", "test.stack | where title startswith \"Calculate\"", 2)
  checkCount("filter_contains", "test.stack | where body contains \"DateTime\"", 3)
  checkCount("filter_chained_with_exists",
    "test.stack | where questionId > 4 | where exists(acceptedAnswerId)", 5)

  // ───── projections (rs:206-218) ─────
  test("project") {
    val got = rows("test.stack | project acceptedAnswerId")
    val vals = got.flatMap(_.get("acceptedAnswerId")).map(_.asInstanceOf[Long]).sorted
    assert(vals == Seq(7L, 26L, 31L, 1248L, 1404L, 12446L))
    assert(got.count(_.isEmpty) == 4)
  }

  // ───── counts / distinct / aggregations (rs:219-290) ─────
  test("count") {
    assert(rows("test.stack | count") == Seq(Map("Count" -> 10L)))
  }
  test("distinct") {
    val got = rows("test.stack | distinct user").flatMap(_.get("user")).toSet
    assert(got == Set("1", "11", "2", "8", "9"))
  }
  checkCount("summarize_all_agg_types_with_binning",
    """test.stack
      | | summarize minQuestionId=min(questionId), maxQuestionId=max(questionId),
      |     avgQuestionId=avg(questionId), dcountUser=dcount(user),
      |     cifQuestionId=countif(exists(questionId)), sumQuestionId=sum(questionId),
      |     minTimestamp=min(@time), maxTimestamp=max(@time), c=count()
      |   by bin(answerId, 5)""".stripMargin, 2)
  checkCount("summarize_multiple_groupby",
    "test.stack | summarize c=count() by bin(questionId, 2), user", 8)
  test("summarize_with_aliased_by_field") {
    val got = rows("test.stack | summarize c=count() by u=user").toSet
    assert(got == Set(
      Map("u" -> "1", "c" -> 3L), Map("u" -> "11", "c" -> 1L),
      Map("u" -> "2", "c" -> 2L), Map("u" -> "8", "c" -> 1L),
      Map("u" -> "9", "c" -> 3L)))
  }

  // ───── top-n / sorting (rs:291-345) ─────
  checkCount("summarize_then_topn",
    "test.stack | summarize minQuestionId=min(questionId) by user | top 3 by minQuestionId", 3)
  checkCount("topn_then_summarize",
    "test.stack | top 5 by questionId | summarize minQuestionId=min(questionId) by user", 3)
  test("summarize_count_then_topn") {
    val got = rows("test.stack | summarize c=count() by user | top 3 by c")
    assert(got.toSet == Set(
      Map("c" -> 1L, "user" -> "11"), Map("c" -> 1L, "user" -> "8"),
      Map("c" -> 2L, "user" -> "2")))
  }
  checkCount("topn_desc", "test.stack | sort by @time desc | take 3", 3)
  checkCount("topn_asc", "test.stack | sort by @time asc | take 3", 3)
  checkCount("topn_after_topn",
    "test.stack | top 5 by questionId | top 3 by questionId", 3)

  // ───── unions (rs:346-375) ─────
  checkCount("union_same_schema", "test.stack | union (test.stack_mirror)", 20)
  checkCount("union_different_timestamp_field", "test.stack | union (test.hdfs)", 20)
  checkCount("union_with_filter_and_topn",
    """test.stack | union (test.stack_mirror)
      | | where acceptedAnswerId == 31 | top 2 by acceptedAnswerId""".stripMargin, 2)

  // ───── extend + extract (rs:376-430) ─────
  checkCount("extract_first_word_from_title",
    """test.stack | extend first_word = extract("^(\w+)", 1, title) | where exists(first_word)""", 8)
  checkCount("extract_and_filter_on_result",
    """test.stack | extend has_datetime = extract("(DateTime)", 1, body) | where has_datetime == "DateTime"""", 3)
  checkCount("extract_from_type_field",
    """test.stack | extend user_type = extract("(question|answer)", 1, type) | where user_type == "question"""", 8)
  checkCount("extract_then_summarize",
    """test.stack | extend first_word = extract("^(\w+)", 1, title) | summarize c = count() by first_word | where exists(first_word)""", 7)
  checkCount("extract_with_preceding_filter",
    """test.stack | where type == "question" | extend calc = extract("^(Calculate)", 1, title) | where calc == "Calculate"""", 2)

  // ───── misc (rs:431-441) ─────
  checkCount("filter_then_limit", "test.stack | where questionId > 4 | take 3", 3)
  test("summarize_global_no_by") {
    val got = rows("test.stack | summarize total=count(), avgQ=avg(questionId)")
    assert(got == Seq(Map("total" -> 10L, "avgQ" -> 10.5)))
  }
  checkCount("project_then_filter",
    "test.stack | project questionId, user | where questionId > 10", 6)
  test("summarize_then_project") {
    val got = rows("test.stack | summarize c=count() by user | project user")
      .flatMap(_.get("user")).toSet
    assert(got == Set("1", "11", "2", "8", "9"))
  }
}
