package graft

import java.nio.file.Files

import graft.sources.Manifest

/** TABLE-catalog manifest reader (reference second fixture family:
  * app/quotes/Results.csv — `SourceSchema;SourceTableName;Source`).
  */
class ManifestSpec extends SparkSpec {

  test("readCatalog: ;-CSV with header, fixed schema, null table names") {
    val dir = TempDirs.dir("graft_catalog_spec")
    val f = dir.resolve("Results.csv")
    Files.writeString(f,
      """SourceSchema;SourceTableName;Source
        |MVXJDTA;CCURRA;m3
        |MVXJDTA;MITMAS;m3
        |MVXJDTA;;m3
        |CRMDTA;ACCOUNT;crm
        |CRMDTA;ACCOUNT;crm
        |""".stripMargin)
    val cat = Manifest.readCatalog(spark, s"file:$f")
    assert(cat.schema === model.catalogSchema)
    assert(cat.count() === 5)
    // empty CSV field arrives null → dropped by the summary, and the
    // duplicate catalog row counts once (distinct table names)
    val got = Manifest.catalogSummary(cat).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(("MVXJDTA", "m3") -> 2L, ("CRMDTA", "crm") -> 1L))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration())
    fs.delete(new org.apache.hadoop.fs.Path(dir.toString), true)
  }

  test("catalogSummary: missing column fails loudly with available columns") {
    import spark.implicits._
    val bad = Seq(("a", "b")).toDF("SourceSchema", "Source")
    val e = intercept[IllegalArgumentException] {
      Manifest.catalogSummary(bad)
    }
    assert(e.getMessage.contains("SourceTableName"))
    assert(e.getMessage.contains("SourceSchema"))
  }
}
