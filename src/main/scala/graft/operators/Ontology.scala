package graft.operators

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** One node of the ontology tree (reference: ontology_config.json nested
  * `nodes` — /root/reference test_data_e2e config; nodes either nest
  * further or bind concept codes). */
final case class OntNode(
    name: String,
    children: Seq[OntNode] = Nil,
    concepts: Seq[String] = Nil)

/** Config-driven concept-path construction of arbitrary depth
  * (SURVEY §2.2 row 16).
  *
  * The tree config is bounded (like the reference's ontology_config.json),
  * so recursion happens driver-side over the config only — the resulting
  * (concept → ancestor path) mapping is a small broadcast table; the data
  * never recurses.
  */
object Ontology {

  def loadResource(resource: String = "graft/ontology_config.json"): OntNode = {
    val in = getClass.getClassLoader.getResourceAsStream(resource)
    require(in != null, s"ontology config resource not found: $resource")
    try parse(new ObjectMapper().readTree(in))
    finally in.close()
  }

  def parseJson(json: String): OntNode = parse(new ObjectMapper().readTree(json))

  private def parse(n: JsonNode): OntNode = OntNode(
    name = n.get("name").asText(),
    children =
      if (n.has("children")) n.get("children").elements().asScala.map(parse).toSeq else Nil,
    concepts =
      if (n.has("concepts")) n.get("concepts").elements().asScala.map(_.asText()).toSeq else Nil)

  /** Every node path in the tree, tranSMART style: \root\child\...\ */
  def allPaths(root: OntNode, sep: String = "\\"): Seq[String] = {
    def walk(n: OntNode, prefix: String): Seq[String] = {
      val p = s"$prefix$sep${n.name}$sep"
      p +: n.children.flatMap(walk(_, p.dropRight(1)))
    }
    walk(root, "")
  }

  /** (concept, ancestorPath) for every tree level the concept rolls into —
    * joining facts on this mapping and grouping by path yields counts at
    * every node of the tree in one aggregation. */
  def conceptAncestors(root: OntNode, sep: String = "\\"): Seq[(String, String)] = {
    def walk(n: OntNode, ancestors: Seq[String], prefix: String): Seq[(String, String)] = {
      val p = s"$prefix$sep${n.name}$sep"
      val lineage = ancestors :+ p
      n.concepts.flatMap(c => lineage.map(c -> _)) ++
        n.children.flatMap(walk(_, lineage, p.dropRight(1)))
    }
    walk(root, Nil, "")
  }
}
