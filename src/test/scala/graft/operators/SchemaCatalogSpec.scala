package graft.operators

import org.apache.spark.sql.functions.lit

import graft.SparkSpec

class SchemaCatalogSpec extends SparkSpec {
  import spark.implicits._

  private lazy val ddlLog = Seq(
    (100L, "app", "t1", """{"cols":["a"]}"""),
    (200L, "app", "t1", """{"cols":["a","b"]}"""),
    (150L, "app", "t2", """{"cols":["x"]}""")
  ).toDF("tso", "schemaName", "tableName", "schemaJson")

  test("versions assigns [tso, next-tso) validity intervals per table") {
    val v = SchemaCatalog.versions(ddlLog)
      .select("tableName", "valid_from", "valid_to", "schemaJson")
      .as[(String, Long, Long, String)].collect().toSet
    assert(v == Set(
      ("t1", 100L, 200L, """{"cols":["a"]}"""),
      ("t1", 200L, Long.MaxValue, """{"cols":["a","b"]}"""),
      ("t2", 150L, Long.MaxValue, """{"cols":["x"]}""")))
  }

  test("snapshotAt rolls the catalog back to a TSO") {
    val snap = SchemaCatalog.snapshotAt(ddlLog, 180L)
      .select("tableName", "schemaJson").as[(String, String)].collect().toSet
    assert(snap == Set(("t1", """{"cols":["a"]}"""), ("t2", """{"cols":["x"]}""")))
  }

  test("consistencyDiff: faithful fold is empty; divergence is classified") {
    // authoritative snapshot agreeing with the fold at tso=180
    val agree = Seq(
      ("app", "t1", """{"cols":["a"]}"""), ("app", "t2", """{"cols":["x"]}"""))
      .toDF("schemaName", "tableName", "schemaJson")
    assert(SchemaCatalog.consistencyDiff(ddlLog, agree, 180L).isEmpty)
    // diverging snapshot: t1 drifted, t2 missing, t9 unknown to the fold
    val drift = Seq(
      ("app", "t1", """{"cols":["a","GHOST"]}"""),
      ("app", "t9", """{"cols":["z"]}"""))
      .toDF("schemaName", "tableName", "schemaJson")
    val got = SchemaCatalog.consistencyDiff(ddlLog, drift, 180L)
      .select("tableName", "status").as[(String, String)].collect().toMap
    assert(got == Map("t1" -> "mismatch", "t2" -> "missing_in_auth",
      "t9" -> "missing_in_fold"))
  }

  test("resolve attaches the schema current at each event TSO") {
    val events = Seq(
      (120L, "app", "t1"), (250L, "app", "t1"), (90L, "app", "t1"))
      .toDF("tso", "schemaName", "tableName")
    val got = SchemaCatalog.resolve(events, ddlLog)
      .select("tso", "schemaJson").as[(Long, Option[String])]
      .collect().toMap
    assert(got(120L).contains("""{"cols":["a"]}"""))
    assert(got(250L).contains("""{"cols":["a","b"]}"""))
    assert(got(90L).isEmpty) // before first DDL: unresolved
  }

  test("schema evolution driven FROM the wire: DDL events resolve rows as-of") {
    // the full consume-side composition: a binlog file carries DDL (as
    // QUERY statement events) interleaved with row events; the decoder
    // splits them back and the as-of schema join resolves each row
    // against the schema current at its TSO
    val dir = java.nio.file.Files.createTempDirectory("graft-schwire").toString
    val ev = Seq(
      (10L, 1L, "DDL", "app", "t1", Map.empty[String, String],
        Map.empty[String, String],
        "CREATE TABLE t1 (id BIGINT, a INT)", 1700000000L),
      (20L, 2L, "INSERT", "app", "t1", Map.empty[String, String],
        Map("id" -> "1"), null.asInstanceOf[String], 1700000001L),
      (30L, 3L, "DDL", "app", "t1", Map.empty[String, String],
        Map.empty[String, String],
        "ALTER TABLE t1 ADD COLUMN b TEXT", 1700000002L),
      (40L, 4L, "INSERT", "app", "t1", Map.empty[String, String],
        Map("id" -> "2"), null.asInstanceOf[String], 1700000003L))
      .toDF("tso", "txnId", "op", "schemaName", "tableName", "before",
        "after", "ddl", "tsoTime")
      .coalesce(1).sortWithinPartitions("tso")
    graft.sinks.BinlogWire.writeChangeStreamBinlogFiles(ev,
      Map(("app", "t1") -> Seq("id")), s"$dir/wire", checksummed = true)
    val decoded = graft.sinks.BinlogWire.readBinlogFiles(spark, s"$dir/wire",
      Map(("app", "t1") -> Seq("id")))
    val rawDdl = decoded.filter($"op" === "DDL")
      .select($"tso", $"schemaName", $"ddl")
    val rows = decoded.filter($"op" =!= "DDL")
      .select($"tso", $"schemaName", lit("t1").as("tableName"))
    val resolved = graft.operators.SchemaCatalog.resolveDdlText(rows, rawDdl)
      .select($"tso", $"colNames").as[(Long, String)].collect().toMap
    assert(resolved(20L) == "id,a")    // between CREATE and ALTER
    assert(resolved(40L) == "id,a,b")  // after the ALTER
  }
}
