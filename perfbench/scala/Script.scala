package graftbench

import scala.collection.mutable
import org.apache.spark.sql.Row

/** The seeded statement session of the `statements` workload, generated
  * together with a model of the state it must leave behind.
  *
  * Every INSERT takes the next id from one counter that starts at 1
  * (graft.lang.Interpreter numbers nodes and edges from the same
  * sequence, and a compaction or boot keeps it), so the model knows each
  * row's id, which the by-id edge inserts refer to. Knows edges resolve
  * their endpoints by property (`name`), LivesIn edges by id.
  */
object Script {
  final case class Stmt(kind: String, text: String, expect: Seq[String] = Nil)

  val Cities = 8
  val Persons = 30
  val KnowsEdges = 12
  val LivesInEdges = 6
  val NodeUpdates = 2
  val EdgeUpdates = 2
  val Matches = 6

  /** (label, is a node label), the order state is compared in. */
  val labels: Seq[(String, Boolean)] =
    Seq("City" -> true, "Person" -> true, "Knows" -> false, "LivesIn" -> false)

  private val ddl = Seq(
    "CREATE NODE City (name: string NOT NULL);",
    "CREATE NODE Person (name: string NOT NULL, age: int, city: string);",
    "CREATE EDGE Knows (FROM Person MANY, TO Person MANY, PROPS (since: int));",
    "CREATE EDGE LivesIn (FROM Person MANY, TO City MANY);")

  /** The script, and the rows each label must hold after all of it ran. */
  def generate(seed: Long): (Seq[Stmt], Map[String, Seq[String]]) = {
    val rnd = new scala.util.Random(seed)
    val m = new Model
    val out = mutable.ArrayBuffer.empty[Stmt]
    ddl.foreach(out += Stmt("ddl", _))
    def person(): Unit = {
      val k = m.persons.size
      val (age, city) = (18 + rnd.nextInt(60), s"c${rnd.nextInt(Cities)}")
      out += Stmt("insert_node", s"INSERT NODE Person (name: 'p$k', age: $age, city: '$city');")
      m.persons(m.next()) = (s"p$k", age, city)
    }
    (0 until Cities).foreach { c =>
      out += Stmt("insert_node", s"INSERT NODE City (name: 'c$c');"); m.cities(m.next()) = s"c$c"
    }
    (0 until 6).foreach(_ => person())
    // the order of statement kinds is the same for every seed, so every
    // seed does the same kind of work; the seed picks the values and the
    // endpoints
    val body = new scala.util.Random(0).shuffle(
      Seq.fill(Persons - 6)("person") ++ Seq.fill(KnowsEdges)("knows") ++
        Seq.fill(LivesInEdges)("lives") ++ Seq.fill(NodeUpdates)("update_node") ++
        Seq.fill(EdgeUpdates)("update_edge") ++ Seq.fill(Matches)("match"))
    body.zipWithIndex.foreach { case (slot, i) =>
      if (i == body.size * 3 / 4) out += Stmt("compact", "")
      val ids = m.persons.keys.toIndexedSeq.sorted
      def pick() = ids(rnd.nextInt(ids.size))
      slot match {
        case "person" => person()
        case "knows" =>
          val (s, d, since) = (pick(), pick(), 1990 + rnd.nextInt(35))
          out += Stmt("insert_edge_prop", s"INSERT EDGE Knows FROM Person (name: '${m.persons(s)._1}') " +
            s"TO Person (name: '${m.persons(d)._1}') (since: $since);")
          m.knows(m.next()) = (s, d, since)
        case "lives" =>
          val (s, c) = (pick(), m.cities.keys.toIndexedSeq.sorted.apply(rnd.nextInt(Cities)))
          out += Stmt("insert_edge_id", s"INSERT EDGE LivesIn FROM Person ($s) TO City ($c);")
          m.lives(m.next()) = (s, c)
        case "update_edge" if m.knows.nonEmpty =>
          val from = m.knows.values.toIndexedSeq.sortBy(_._3).apply(rnd.nextInt(m.knows.size))._3
          val to = 1990 + rnd.nextInt(35)
          out += Stmt("update", s"UPDATE EDGE Knows SET since: $to WHERE since: $from;")
          m.knows.mapValuesInPlace { case (_, e) => if (e._3 == from) e.copy(_3 = to) else e }
        case "update_node" | "update_edge" =>
          val (age, city) = (18 + rnd.nextInt(60), s"c${rnd.nextInt(Cities)}")
          out += Stmt("update", s"UPDATE NODE Person SET age: $age WHERE city: '$city';")
          m.persons.mapValuesInPlace { case (_, p) => if (p._3 == city) p.copy(_2 = age) else p }
        case "match" =>
          val city = s"c${rnd.nextInt(Cities)}"
          out += Stmt("match", s"MATCH Person WHERE city: '$city';",
            m.rows("Person").filter(_.endsWith(s"|$city")))
      }
    }
    (out.toSeq, labels.map(l => l._1 -> m.rows(l._1)).toMap)
  }

  /** Current rows of every label, rendered as Digest.row and sorted. */
  def state(it: graft.lang.Interpreter): Map[String, Seq[String]] =
    labels.map { case (l, isNode) =>
      val df = if (isNode) it.nodes(l) else it.edges(l)
      l -> df.collect().map(Digest.row).toSeq.sorted
    }.toMap

  /** Rows present in one side only. */
  def diff(want: Seq[String], got: Seq[String]): Int =
    (want.diff(got).size + got.diff(want).size)

  private final class Model {
    private var id = 0L
    def next(): Long = { id += 1; id }
    val cities = mutable.LinkedHashMap.empty[Long, String]
    val persons = mutable.LinkedHashMap.empty[Long, (String, Int, String)]
    val knows = mutable.LinkedHashMap.empty[Long, (Long, Long, Int)]
    val lives = mutable.LinkedHashMap.empty[Long, (Long, Long)]
    def rows(label: String): Seq[String] = (label match {
      case "City" => cities.map { case (i, n) => Digest.row(Row(i, n)) }
      case "Person" => persons.map { case (i, p) => Digest.row(Row(i, p._1, p._2, p._3)) }
      case "Knows" => knows.map { case (i, e) => Digest.row(Row(i, e._1, e._2, e._3)) }
      case "LivesIn" => lives.map { case (i, e) => Digest.row(Row(i, e._1, e._2)) }
    }).toSeq.sorted
  }
}
