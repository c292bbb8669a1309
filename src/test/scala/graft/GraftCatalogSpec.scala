package graft

import org.scalatest.funsuite.AnyFunSuite

/** The operator catalog is the library's discoverable surface and the
  * README is generated from it — so the catalog itself needs a gate:
  * every oracle id it cites must be a real SparkEntry query, and every
  * entry point must resolve to a class that actually exists. Without
  * this, a renamed operator or retired query would leave the front
  * door pointing at nothing.
  */
class GraftCatalogSpec extends AnyFunSuite {

  test("every oracle gate the catalog cites exists in SparkEntry.queries") {
    val keys = SparkEntry.queries.keySet
    val cited = Graft.catalog
      .flatMap(o => "q\\d+".r.findAllIn(o.gate)).distinct
    assert(cited.nonEmpty)
    val missing = cited.filterNot(q => keys.exists(_.startsWith(q + "_")))
    assert(missing.isEmpty, s"catalog cites unknown gate queries: $missing")
  }

  test("every catalog entry point resolves to a real class or object") {
    def load(fqcn: String): Option[Class[_]] =
      try Some(Class.forName(fqcn))
      catch { case _: ClassNotFoundException => None }
    def resolves(fqcn: String): Boolean =
      load(fqcn).orElse(load(fqcn + "$")).isDefined
    // public members of a class or object: the object's methods, and the
    // static forwarders and instance methods on the class
    def publicMembers(fqcn: String): Set[String] =
      Seq(fqcn, fqcn + "$").flatMap(load).flatMap(_.getMethods.map(_.getName)).toSet
    // entry points carry method suffixes, `/`-separated lists and prose
    // ("graft.etl.Lake.build/write", "… (SQL + Column API)"): resolve
    // the longest dotted prefix that names a class, then require every
    // method named after it to be a public member of that class or
    // object; a list after a bare class names sibling classes. A
    // trailing `*` names a method prefix ("jaccardVerify*").
    val ref = "(graft\\.[A-Za-z0-9_.]+)((?:/[A-Za-z0-9_]+)*)(\\*?)".r
    def problems(entryPoint: String): Seq[String] = {
      val refs = ref.findAllMatchIn(entryPoint).toSeq
      if (refs.isEmpty) Seq("no graft.* reference")
      else refs.flatMap { m =>
        val segs = m.group(1).split("\\.")
        val listed = m.group(2).split("/").filter(_.nonEmpty).toSeq
        (segs.length to 2 by -1).find(n => resolves(segs.take(n).mkString("."))) match {
          case None => Seq(s"${m.group(1)}: no class or object")
          case Some(n) =>
            val cls = segs.take(n).mkString(".")
            segs.drop(n).toSeq match {
              case Seq() =>
                val pkg = segs.take(n - 1).mkString(".")
                listed.filterNot(c => resolves(s"$pkg.$c")).map(c => s"$pkg.$c: no class or object")
              case Seq(method) =>
                val members = publicMembers(cls)
                val has: String => Boolean =
                  if (m.group(3).nonEmpty) p => members.exists(_.startsWith(p)) else members
                (method +: listed).filterNot(has).map(x => s"$cls.$x: no public member")
              case nested => Seq(s"${m.group(1)}: ${nested.mkString(".")} is not one method")
            }
        }
      }
    }
    // the rule sees a method that is gone, and a class that is gone
    assert(problems("graft.etl.Lake.build/vacuum") ===
      Seq("graft.etl.Lake.vacuum: no public member"))
    assert(problems("graft.etl.Lake.write, graft.etl.LakeMaintenance").nonEmpty)
    val unresolved = Graft.catalog.map(op => op.entryPoint -> problems(op.entryPoint))
      .filter(_._2.nonEmpty)
    assert(unresolved.isEmpty,
      s"catalog entry points that resolve to nothing: ${unresolved.mkString("; ")}")
  }

  test("the catalog covers every area and stays unique") {
    val dupes = Graft.catalog.groupBy(o => (o.area, o.task)).filter(_._2.length > 1)
    assert(dupes.isEmpty, s"duplicate catalog rows: ${dupes.keys}")
    assert(Graft.catalog.map(_.area).distinct.size >= 10)
    // the markdown emitter renders one row per op (plus 2 header lines)
    assert(Graft.markdownTable.linesIterator.size === Graft.catalog.size + 2)
  }
}
