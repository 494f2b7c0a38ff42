package graft

import graft.functions.JValue
import graft.functions.JValue._
import graft.operators.Flatten
import org.scalatest.funsuite.AnyFunSuite

/** A1-A3 — the three flatteners against FIXTURES.md F3 (the reference's
  * own flattener_test.go document) plus structural invariants. */
class FlattenSpec extends AnyFunSuite {

  private val f3 =
    """{
      |  "name": "John Doe",
      |  "age": 30,
      |  "address": {"street": "123 Main St", "city": "Anytown"},
      |  "hobbies": [
      |    {"name": "Reading", "type": "Indoor"},
      |    {"name": "Cycling", "type": "Outdoor",
      |     "nested": {"scalar": "bar", "list": [1,2], "obj": {"hello":"world"}}}
      |  ],
      |  "numbers": [11, 22, 33]
      |}""".stripMargin

  private def fieldsOf(o: JObj): Map[String, JValue] = o.fields.toMap

  test("horizontal: one row, underscore-joined keys, array indices") {
    val rows = Flatten.horizontal("t", f3)
    assert(rows.size == 1)
    val m = fieldsOf(rows.head.row)
    assert(m("name") == JStr("John Doe"))
    assert(m("age") == JNum("30"))
    assert(m("address_street") == JStr("123 Main St"))
    assert(m("address_city") == JStr("Anytown"))
    assert(m("hobbies_0_name") == JStr("Reading"))
    assert(m("hobbies_1_type") == JStr("Outdoor"))
    assert(m("hobbies_1_nested_list_0") == JNum("1"))
    assert(m("hobbies_1_nested_obj_hello") == JStr("world"))
    assert(m("numbers_2") == JNum("33"))
    assert(m.size == 15)
  }

  test("vertical: cross product of sibling arrays with __order_ and ___document_id") {
    val rows = Flatten.vertical("t", f3, "01TESTDOCID0000000000000US")
    // hobbies expands to 1 (Reading) + 2 (Cycling × nested.list [1,2]) = 3 rows,
    // crossed with 3 numbers → 9 rows
    assert(rows.size == 9)
    val ms = rows.map(r => fieldsOf(r.row))
    // every row: scalars + doc id present
    ms.foreach { m =>
      assert(m("name") == JStr("John Doe"))
      assert(m("address_city") == JStr("Anytown"))
      assert(m("___document_id") == JStr("01TESTDOCID0000000000000US"))
      assert(m.contains("__order_hobbies"))
      assert(m.contains("__order_numbers"))
    }
    // order columns cover the full index ranges
    assert(ms.map(_("__order_numbers")).toSet == Set(JNum("0"), JNum("1"), JNum("2")))
    assert(ms.map(_("__order_hobbies")).toSet == Set(JNum("0"), JNum("1")))
    // Cycling rows carry nested fields + nested list order
    val cycling = ms.filter(_.get("hobbies_name").contains(JStr("Cycling")))
    assert(cycling.size == 6) // 2 list items × 3 numbers
    cycling.foreach { m =>
      assert(m("hobbies_nested_scalar") == JStr("bar"))
      assert(m("hobbies_nested_obj_hello") == JStr("world"))
      assert(m.contains("__order_hobbies_nested_list"))
    }
    assert(cycling.map(_("hobbies_nested_list")).toSet == Set(JNum("1"), JNum("2")))
    // Reading rows have no nested fields
    val reading = ms.filter(_.get("hobbies_name").contains(JStr("Reading")))
    assert(reading.size == 3)
    reading.foreach(m => assert(!m.contains("hobbies_nested_scalar")))
  }

  test("vertical: empty array yields a null column; row count = product of sibling lengths") {
    val rows = Flatten.vertical("t", """{"a":[1,2],"b":["x","y","z"],"c":[]}""", "D")
    assert(rows.size == 6) // 2 × 3 × 1
    rows.foreach { r =>
      val m = fieldsOf(r.row)
      assert(m("c") == JNull)
      assert(m.contains("__order_a") && m.contains("__order_b"))
    }
  }

  test("multitable: parent/child tables with snowflake ids and FKs") {
    var id = 0L
    val rows = Flatten.multiTable("t", f3, () => { id += 1; id })
    val byTable = rows.groupBy(_.table)
    assert(byTable.keySet == Set("t", "address", "hobbies", "nested", "list", "obj", "numbers"))

    val t = fieldsOf(byTable("t").head.row)
    val tId = t("id")
    assert(t("name") == JStr("John Doe"))
    assert(t("age") == JNum("30"))
    assert(!t.contains("address")) // containers are lifted out

    val addr = fieldsOf(byTable("address").head.row)
    assert(addr("t_id") == tId)
    assert(addr("street") == JStr("123 Main St"))

    assert(byTable("hobbies").size == 2)
    byTable("hobbies").foreach(h => assert(fieldsOf(h.row)("t_id") == tId))

    val cyclingId = byTable("hobbies").map(h => fieldsOf(h.row))
      .find(_.get("name").contains(JStr("Cycling"))).get.apply("id")
    val nested = fieldsOf(byTable("nested").head.row)
    assert(nested("hobbies_id") == cyclingId)
    assert(nested("scalar") == JStr("bar"))

    val nestedId = nested("id")
    assert(byTable("list").size == 2)
    byTable("list").foreach { li =>
      val m = fieldsOf(li.row)
      assert(m("nested_id") == nestedId)
      assert(m.contains("list")) // scalar rows use the table name as column
    }
    assert(fieldsOf(byTable("obj").head.row)("nested_id") == nestedId)

    assert(byTable("numbers").size == 3)
    assert(byTable("numbers").map(n => fieldsOf(n.row)("numbers")).toSet ==
      Set(JNum("11"), JNum("22"), JNum("33")))
    byTable("numbers").foreach(n => assert(fieldsOf(n.row)("t_id") == tId))
  }

  test("property: vertical row count = product of sibling array lengths (randomized)") {
    val rnd = new scala.util.Random(1234)
    (1 to 50).foreach { _ =>
      // random flat doc of scalars + top-level non-empty arrays of scalars
      val nArrays = 1 + rnd.nextInt(3)
      val arrays = (1 to nArrays).map(i => s"arr$i" -> (1 to (1 + rnd.nextInt(4)))
        .map(j => rnd.nextInt(100)).toVector)
      val scalars = (1 to rnd.nextInt(3)).map(i => s"s$i" -> rnd.nextInt(100))
      val json = (scalars.map { case (k, v) => s""""$k": $v""" } ++
        arrays.map { case (k, vs) => s""""$k": [${vs.mkString(",")}]""" })
        .mkString("{", ",", "}")
      val rows = Flatten.vertical("t", json, "D")
      val expect = arrays.map(_._2.size.toLong).product
      assert(rows.size == expect, s"doc=$json")
      // every row has every array's order column within range
      rows.foreach { r =>
        val m = fieldsOf(r.row)
        arrays.foreach { case (k, vs) =>
          val ord = m(s"__order_$k").asInstanceOf[JNum].raw.toInt
          assert(ord >= 0 && ord < vs.size)
          assert(m(k) == JNum(vs(ord).toString), s"value/order mismatch in $json")
        }
      }
    }
  }

  test("horizontal roundtrip renders valid compact JSON") {
    val rows = Flatten.horizontal("t", """{"a":{"b":"x \" y"},"n":[1.5,true,null]}""")
    val rendered = rows.head.rendered
    val re = JValue.parseObject(rendered)
    assert(fieldsOf(re)("a_b") == JStr("x \" y"))
    assert(fieldsOf(re)("n_0") == JNum("1.5"))
    assert(fieldsOf(re)("n_1") == JBool(true))
    assert(fieldsOf(re)("n_2") == JNull)
  }
}
