package graft

import java.nio.file.Files

import graft.catalog.TableRegistry
import graft.sources.ExtractJob

/** Conformance corpus: the reference's seven SQL workload sections
  * (`sql/sample_athena_queries.sql:1-208` — exploration, geographic,
  * contact/phone, company, data-quality, time-based, advanced), expressed
  * as equivalent statements over the crawled `data_pipeline_db` raw_data
  * table, run through the plain SQL surface with the dialect installed.
  * Asserts execution + structural invariants (the reference harness only
  * eyeballs output — `test_pipeline.py:180-202`; these assertions are
  * stronger). */
class ConformanceSpec extends SparkSpec {

  private lazy val table: String = {
    val root = Files.createTempDirectory("graft_conformance").toString
    val r = ExtractJob.run(spark, root, fetcher = _ => Right(graft.jobs.PipelineDemo.FixtureBody))
    assert(r.statusCode == 200)
    TableRegistry.crawl(spark, root, "data_pipeline_db", "conformance_raw")
    "data_pipeline_db.conformance_raw"
  }

  test("§1 exploration: count, preview, freshness") {
    assert(spark.sql(s"SELECT COUNT(*) AS c FROM $table").head().getLong(0) == 3L)
    assert(spark.sql(s"SELECT * FROM $table LIMIT 10").collect().length == 3)
    val mm = spark.sql(
      s"SELECT MIN(extraction_timestamp) AS a, MAX(extraction_timestamp) AS b FROM $table").head()
    assert(!mm.isNullAt(0) && !mm.isNullAt(1))
  }

  test("§2 geographic: city group-count, coordinate grouping") {
    val top = spark.sql(
      s"""SELECT address_city, COUNT(*) AS user_count FROM $table
         |WHERE address_city IS NOT NULL
         |GROUP BY address_city ORDER BY user_count DESC""".stripMargin).collect()
    assert(top.head.getString(0) == "Wisokyburgh" && top.head.getLong(1) == 2L)
    val geo = spark.sql(
      s"""SELECT address_lat, address_lng, address_city FROM $table
         |WHERE address_lat IS NOT NULL AND address_lng IS NOT NULL
         |GROUP BY address_lat, address_lng, address_city""".stripMargin).collect()
    assert(geo.length == 3)
  }

  test("§3 contact: email-domain extraction via strpos, phone-format CASE") {
    val domains = spark.sql(
      s"""SELECT SUBSTR(email, STRPOS(email, '@') + 1) AS domain, COUNT(*) AS cnt
         |FROM $table WHERE email IS NOT NULL
         |GROUP BY SUBSTR(email, STRPOS(email, '@') + 1) ORDER BY cnt DESC""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(domains.keySet == Set("april.biz", "melissa.tv", "yesenia.net"))
    val formats = spark.sql(
      s"""SELECT CASE WHEN phone LIKE '1-%' THEN 'US format with country code'
         |            WHEN phone LIKE '(%' THEN 'US format with area code'
         |            WHEN regexp_like(phone, '^[0-9-]+$$') THEN 'simple numeric'
         |            ELSE 'other format' END AS phone_format, COUNT(*) AS cnt
         |FROM $table WHERE phone IS NOT NULL GROUP BY 1""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(formats.getOrElse("US format with country code", 0L) >= 1L)
  }

  test("§4 company: name counts, catchphrase usage, business types") {
    // reference sql/sample_athena_queries.sql:82-109 — three statements
    val names = spark.sql(
      s"""SELECT company_name, COUNT(*) AS employee_count FROM $table
         |WHERE company_name IS NOT NULL
         |GROUP BY company_name ORDER BY employee_count DESC""".stripMargin).collect()
    assert(names.length == 3) // 3 fixture users, 3 distinct companies
    assert(names.forall(_.getLong(1) == 1L))
    val phrases = spark.sql(
      s"""SELECT company_catchphrase, company_name, COUNT(*) AS usage_count
         |FROM $table WHERE company_catchphrase IS NOT NULL
         |GROUP BY company_catchphrase, company_name
         |ORDER BY usage_count DESC""".stripMargin).collect()
    assert(phrases.length == 3)
    assert(phrases.map(_.getString(0)).contains("Multi-layered client-server neural-net"))
    val bs = spark.sql(
      s"""SELECT company_bs, COUNT(*) AS count FROM $table
         |WHERE company_bs IS NOT NULL
         |GROUP BY company_bs ORDER BY count DESC""".stripMargin).collect()
    assert(bs.length == 3 && bs.forall(_.getLong(1) == 1L))
  }

  test("§5 data-quality: completeness report via UNION ALL") {
    val rows = spark.sql(
      s"""SELECT 'name' AS field, COUNT(*) AS total,
         |  SUM(CASE WHEN name IS NULL OR name = '' THEN 1 ELSE 0 END) AS missing
         |FROM $table
         |UNION ALL
         |SELECT 'email', COUNT(*),
         |  SUM(CASE WHEN email IS NULL OR email = '' THEN 1 ELSE 0 END)
         |FROM $table""".stripMargin).collect()
    assert(rows.length == 2 && rows.forall(_.getLong(2) == 0L))
  }

  test("§6 time-based: DATE() bucketing over extraction_timestamp") {
    val byDay = spark.sql(
      s"""SELECT DATE(extraction_timestamp) AS extraction_date, COUNT(*) AS c
         |FROM $table GROUP BY 1 ORDER BY 1""".stripMargin).collect()
    assert(byDay.length == 1 && byDay.head.getLong(1) == 3L)
  }

  test("§7 advanced: same-city different-company via string_agg + HAVING") {
    val rows = spark.sql(
      s"""SELECT address_city, COUNT(DISTINCT company_name) AS companies,
         |  string_agg(name, ', ') AS names
         |FROM $table WHERE address_city IS NOT NULL
         |GROUP BY address_city HAVING COUNT(*) > 1
         |ORDER BY address_city""".stripMargin).collect()
    assert(rows.length == 1)
    assert(rows.head.getString(0) == "Wisokyburgh" && rows.head.getLong(1) == 2L)
    assert(rows.head.getString(2) == "Clementine Bauch, Ervin Howell")
  }

  test("partition-pruned query shape (year/month/day predicates)") {
    val now = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
    val n = spark.sql(
      s"""SELECT COUNT(*) AS c FROM $table
         |WHERE year = '${now.getYear}' AND month = '${f"${now.getMonthValue}%02d"}'""".stripMargin)
      .head().getLong(0)
    assert(n == 3L)
  }
}
