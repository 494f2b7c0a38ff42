package graft

import graft.sources.{GraftCatalog, Loader}
import java.nio.file.Files

class SkewAndCsvSpec extends SparkTestBase {

  test("CSV batch load: inferred types fold onto the lattice") {
    val tmp = Files.createTempDirectory("graft-csv")
    val csv = tmp.resolve("in.csv")
    Files.writeString(csv,
      "name,qty,price,active\nwidget,3,1.5,true\ngadget,7,2.25,false\n")
    val catalog = new GraftCatalog(spark, tmp.resolve("wh").toString)
    val loader = new Loader(catalog)
    val n = loader.loadCsvFile("db", "items", csv)
    assert(n == 2)
    val schema = catalog.schemaOf("db", "items")
    assert(schema("name") == "string" && schema("qty") == "int" &&
      schema("price") == "float" && schema("active") == "bool")
    val rows = catalog.read("db", "items")
      .select("name", "qty", "price", "active")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
    assert(rows == Set(("widget", 3L, 1.5, true), ("gadget", 7L, 2.25, false)))
    // ids injected distributed
    val ids = catalog.read("db", "items").select("__row_id").collect().map(_.getLong(0))
    assert(ids.distinct.length == 2 && ids.forall(_ > 0))
  }
}
