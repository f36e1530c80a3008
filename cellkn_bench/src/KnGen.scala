package cellknbench

import java.io.{File, PrintWriter}
import scala.collection.mutable
import scala.util.Random

/** A vertex handle as the graph layer stores it: (collection, key). */
final case class V(coll: String, key: String) {
  def term: String = s"${coll}_$key"
}

/** Plain-Scala JSON-lines and text output for the generated inputs. */
object Files {
  def q(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c => c.toString
    } + "\""

  def obj(fields: (String, Any)*): String = fields.map { case (k, v) =>
    val js = v match {
      case null => "null"
      case s: String => q(s)
      case n: Int => n.toString
      case n: Long => n.toString
      case d: Double => d.toString
      case other => q(other.toString)
    }
    q(k) + ":" + js
  }.mkString("{", ",", "}")

  def write(path: String, lines: Iterable[String]): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  def pyList(xs: Seq[String]): String = xs.map(x => s"'$x'").mkString("[", ", ", "]")
}

/**
 * Seeded generator of the Cell KN inputs — the five writer families'
 * source tables and an OWL ontology plus its relation vocabulary — and
 * the closed-form expectations every output check compares against.
 *
 * The generator first draws an abstract graph (which cell set maps to
 * which cell type, which gene marks which cluster, the hierarchies), then
 * renders it into writer inputs. The expected vertex and edge sets are
 * the emission rules of each writer applied to the drawn rows in plain
 * Scala; path counts, hierarchy tails, subgraph sizes and search hits are
 * enumerated over those sets. Nothing here calls the code under test.
 *
 * Sizes are the reference's full scale times [[KnGen.Scale]] and fixed,
 * so every seed does the same amount of work; the seed only moves which
 * entities connect.
 */
final class KnGen(seed: Long) {
  private val rnd = new Random(seed)

  val PURL = "http://purl.obolibrary.org/obo"

  private def hex(n: Int): String =
    (1 to n).map(_ => "0123456789abcdef".charAt(rnd.nextInt(16))).mkString
  private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))
  private def pickN[T](xs: IndexedSeq[T], n: Int): Seq[T] =
    rnd.shuffle(xs.indices.toList).take(n).map(xs)

  private def ids(coll: String, n: Int, base: Int): IndexedSeq[V] =
    (0 until n).map(i => V(coll, f"${base + i}%07d"))

  // ---- entity pools ------------------------------------------------------
  import KnGen.size
  val cl = ids("CL", size("CL"), 100)
  val uberon = ids("UBERON", size("UBERON"), 20000)
  val pato = ids("PATO", size("PATO"), 3000)
  val ncbi = ids("NCBITaxon", size("NCBITaxon"), 90000)
  val go = ids("GO", size("GO"), 50000)
  val mondo = ids("MONDO", size("MONDO"), 70000)
  val hp = ids("HP", size("HP"), 10000)
  val chebi = ids("CHEBI", size("CHEBI"), 150000)
  val chembl = (0 until size("CHEMBL")).map(i => V("CHEMBL", s"CHEMBL${1000 + i}"))
  val rs = (0 until size("RS")).map(i => V("RS", s"rs${100000 + i * 7}"))
  val pr = (0 until size("PR")).map(i => V("PR", f"P$i%05d"))
  val geneNames = (0 until size("GS")).map(i => f"GENE$i%05d")
  val pub = (0 until 6).map(i => V("PUB", s"pmid${39000000 + i}"))

  private val cellWords = IndexedSeq("neuron", "astrocyte", "microglia",
    "fibroblast", "macrophage", "epithelial", "endothelial", "pericyte",
    "keratinocyte", "hepatocyte", "podocyte", "lymphocyte", "monocyte",
    "oligodendrocyte", "cardiomyocyte", "adipocyte")
  private val geneWords = IndexedSeq("kinase", "receptor", "transporter",
    "ligase", "channel", "factor", "binding", "protein", "regulator",
    "phosphatase", "synthase", "oxidase")
  private val qualWords = IndexedSeq("alpha", "beta", "gamma", "delta",
    "mature", "naive", "activated", "resting", "progenitor", "secretory")

  /** Search queries: word prefixes of the label vocabulary. */
  val searchTokens: IndexedSeq[String] =
    (cellWords.map(_.take(5)) ++ geneWords.map(_.take(4)) ++
      qualWords.map(_.take(4)) ++ Seq("gene000", "gene01", "cluster", "author"))
      .distinct

  // ---- writer rows -------------------------------------------------------
  final case class NsRow(name: String, uuid: String, size: Int,
                         markers: Seq[String], binary: Seq[String])
  final case class A2cRow(set: String, uuid: String, cl: V, ub: V,
                          term: String, markers: Seq[String],
                          binary: Seq[String])
  final case class AnnRow(sType: String, sName: String, sId: String,
                          rel: String, oType: String, oName: String,
                          oId: String)
  final case class GeneRow(entrez: Int, name: String, fullName: String,
                           uniprot: Option[String])

  val nsDvs = Seq("dvn1", "dvn2")
  val a2cDvs = Seq("dva1", "dva2")

  /** Two markers and one binary gene per row: with the two dataset
    * versions and a silhouette score that is the reference's golden
    * fixture row, 30 tuples. */
  val nsRows: IndexedSeq[NsRow] = (0 until KnGen.Clusters).map { i =>
    val g = pickN(geneNames, 3)
    NsRow(s"cluster $i", hex(12), 10 + rnd.nextInt(500), g.take(2), g.drop(2))
  }

  val a2cRows: IndexedSeq[A2cRow] = (0 until KnGen.Clusters).map { i =>
    val g = pickN(geneNames, 3)
    val term = s"${pick(qualWords)} ${pick(cellWords)} ${pick(cellWords)}"
    A2cRow(s"author set $i", hex(12), pick(cl), pick(uberon), term,
      g.take(2), g.drop(2))
  }

  /** MeSH ids resolve one-to-one onto the MONDO pool. */
  val mesh2mondo: IndexedSeq[(String, V)] =
    mondo.zipWithIndex.map { case (m, i) => (f"MESH:D$i%06d", m) }

  val annRows: IndexedSeq[AnnRow] = {
    val cs = nsRows.flatMap { r =>
      val sid = r.uuid + "-ann"
      Seq(
        AnnRow("Cell_set", r.name, sid, "HAS_CELL_TYPE", "Cell_type", "",
          pick(cl).term.replace('_', ':')),
        AnnRow("Cell_set", r.name, sid, "LOCATED_IN", "Anatomical_structure",
          "", pick(uberon).term.replace('_', ':')),
        AnnRow("Cell_set", r.name, sid, "ASSOCIATED_WITH", "Disease", "",
          pick(mesh2mondo)._1))
    }
    val genes = pickN(geneNames, geneNames.size / 5).map(g =>
      AnnRow("Gene", g, "", "GENETICALLY_ASSOCIATED_WITH", "Disease", "",
        pick(mesh2mondo)._1))
    cs ++ genes
  }

  val geneRows: IndexedSeq[GeneRow] = geneNames.zipWithIndex.map { case (g, i) =>
    GeneRow(1000 + i, g, s"${pick(geneWords)} ${pick(geneWords)} $g",
      if (rnd.nextInt(5) == 0) None else Some(pick(pr).key))
  }

  /** Schema-sheet relation rows (subject CURIE, predicate, object CURIE):
    * every collection pair the production queries walk that no other
    * writer emits, plus the hierarchies the query tails follow. */
  val schemaRows: IndexedSeq[(String, String, String)] = {
    val out = mutable.LinkedHashSet.empty[(V, String, V)]
    def rel(from: IndexedSeq[V], to: IndexedSeq[V], p: String, lo: Int, hi: Int,
            share: Double = 1.0): Unit =
      from.foreach { f =>
        if (rnd.nextDouble() < share)
          pickN(to, lo + rnd.nextInt(hi - lo + 1)).foreach(t => out += ((f, p, t)))
      }
    val csd = (nsDvs ++ a2cDvs).map(V("CSD", _)).toIndexedSeq
    val gs = geneNames.map(V("GS", _))
    rel(csd, pub, "IAO:0000136", 1, 2)
    rel(uberon, chebi, "RO:0001025", 1, 2)
    rel(uberon, csd, "RO:0015001", 0, 1)
    rel(uberon, gs, "RO:0002292", 1, 2)
    rel(uberon, ncbi, "RO:0002162", 1, 1)
    rel(uberon, pato, "RO:0000086", 1, 1)
    rel(uberon, pr, "RO:0002292", 1, 2)
    rel(uberon, go, "RO:0002215", 1, 2)
    rel(cl, ncbi, "RO:0002162", 1, 1)
    rel(cl, pato, "RO:0000086", 1, 1)
    rel(cl, go, "RO:0002215", 1, 2)
    rel(cl, pr, "RO:0002292", 1, 1)
    rel(go, ncbi, "RO:0002162", 1, 1, 0.5)
    rel(gs, rs, "RO:0002204", 1, 1, 0.5)
    rel(rs, chembl, "RO:0002434", 1, 2)
    rel(chembl, mondo, "RO:0002606", 1, 1)
    rel(chembl, pr, "RO:0002436", 1, 1)
    rel(pr, chembl, "RO:0002434", 0, 1, 0.3)
    rel(mondo, ncbi, "RO:0002162", 1, 1)
    rel(mondo, hp, "RO:0004029", 1, 2)
    Seq(ncbi, pato, go, mondo, hp).foreach(h => hierarchy(h, "SUB_CLASS_OF", out))
    hierarchy(uberon, "PART_OF", out)
    out.toIndexedSeq.map { case (s, p, o) =>
      (s.term.replaceFirst("_", ":"), p, o.term.replaceFirst("_", ":")) }
  }

  /** A layered DAG over `nodes`: levels 0 to `MaxHeight`, each about
    * three times the size of the one above (specific terms outnumber
    * general ones), so most requests walk the full depth and a hierarchy
    * request's cost does not hang on which anchor the seed draws. Every node has
    * a primary parent one level up; some have a second parent further up.
    * A node's longest chain therefore runs through its primary parent and
    * is unique, so hierarchy tails are deterministic. */
  private def hierarchy(nodes: IndexedSeq[V], label: String,
                        out: mutable.LinkedHashSet[(V, String, V)]): Unit = {
    val weights = (0 to KnGen.MaxHeight).map(l => math.pow(3, l))
    val sizes = weights.map(w => math.max(1, (nodes.size * w / weights.sum).toInt))
    val fixed = sizes.updated(sizes.size - 1, nodes.size - sizes.init.sum)
    val levels = fixed.scanLeft(0)(_ + _).sliding(2).map { case Seq(a, b) => nodes.slice(a, b) }
      .toIndexedSeq
    for (l <- 1 until levels.size; v <- levels(l)) {
      out += ((v, label, pick(levels(l - 1))))
      if (l >= 2 && rnd.nextInt(5) == 0)
        out += ((v, label, pick(levels.take(l - 1).flatten)))
    }
  }

  // ---- writer emission rules: expected (from, to) -> label --------------
  def nsCs(r: NsRow): V = V("CS", s"${hyphenate(r.name)}-${r.uuid}")
  def a2cCs(r: A2cRow): V = V("CS", s"${hyphenate(r.set)}-${r.uuid}")
  private def hyphenate(s: String) = s.replaceAll("[ _,/]", "-").replaceAll("-+", "-")
  private def curie(c: String): V = {
    val t = c.replace(':', '_')
    val i = t.indexOf('_')
    V(t.substring(0, i), t.substring(i + 1))
  }

  lazy val expectedEdges: Map[(V, V), String] = {
    val e = mutable.LinkedHashMap.empty[(V, V), String]
    def add(a: V, b: V, l: String): Unit = {
      e.get((a, b)).foreach(old => require(old == l, s"label clash on $a->$b"))
      e((a, b)) = l
    }
    nsRows.foreach { r =>
      val cs = nsCs(r); val bmc = V("BMC", r.uuid); val bgs = V("BGS", r.uuid)
      add(bmc, V("SO", "0001260"), "type")
      r.markers.foreach(g => add(V("GS", g), bmc, "BFO_0000050"))
      add(cs, bmc, "RO_0015004")
      add(bmc, bgs, "RO_0015003")
      nsDvs.foreach(dv => add(cs, V("CSD", dv), "Source"))
    }
    a2cRows.foreach { r =>
      val cs = a2cCs(r)
      add(r.cl, r.ub, "BFO_0000050")
      add(cs, r.ub, "RO_0001000")
      a2cDvs.foreach { dv =>
        add(r.cl, V("CSD", dv), "RO_0015001")
        add(cs, V("CSD", dv), "Source")
      }
      add(cs, r.cl, "RO_0002473")
      add(cs, V("BGS", r.uuid), "RO_0002292")
      r.markers.foreach(g => add(V("GS", g), r.cl, "BFO_0000050"))
      (r.markers ++ r.binary).foreach { g =>
        add(r.cl, V("GS", g), "SELECTIVELY_EXPRESS")
        add(V("GS", g), r.cl, "BFO_0000050")
      }
    }
    val m2m = mesh2mondo.toMap
    val nsByName = nsRows.map(r => r.name -> r).toMap
    annRows.foreach { a =>
      val s = a.sType match {
        case "Cell_set" => nsCs(nsByName(a.sName))
        case "Gene" => V("GS", a.sName)
      }
      val o = a.oType match {
        case "Disease" => m2m(a.oId)
        case _ => curie(a.oId)
      }
      add(s, o, a.rel)
    }
    geneRows.foreach(g => g.uniprot.foreach(u => add(V("GS", g.name), V("PR", u), "PRODUCES")))
    schemaRows.foreach { case (s, p, o) => add(curie(s), curie(o), p.replace(':', '_')) }
    e.toMap
  }

  lazy val expectedVertices: Set[V] =
    expectedEdges.keys.flatMap { case (a, b) => Seq(a, b) }.toSet

  lazy val cellSets: IndexedSeq[V] =
    expectedVertices.filter(_.coll == "CS").toIndexedSeq.sortBy(_.key)

  // ---- path oracle -------------------------------------------------------
  /** (neighbour, traversed from, traversed to, label, undirected edge id)
    * per (vertex, neighbour collection) in the ANY-direction view. */
  private lazy val anyAdj: Map[(V, String), IndexedSeq[(V, V, V, String, (V, V))]] =
    expectedEdges.toIndexedSeq.flatMap { case ((a, b), l) =>
      Seq((a, (b, a, b, l, (a, b))), (b, (a, b, a, l, (a, b))))
    }.groupBy { case (src, (nb, _, _, _, _)) => (src, nb.coll) }
      .map { case (k, xs) => k -> xs.map(_._2) }

  private lazy val outByLabel: Map[(V, String), IndexedSeq[V]] =
    expectedEdges.toIndexedSeq.groupBy { case ((a, _), l) => (a, l) }
      .map { case (k, xs) => k -> xs.map(_._1._2) }

  /** Longest outbound `label` chain from `v`, as its vertex list (unique
    * by construction of the hierarchies). */
  private val tailMemo = mutable.Map.empty[(V, String), List[V]]
  def tail(v: V, label: String): List[V] = tailMemo.get((v, label)) match {
    case Some(t) => t
    case None =>
      val ps = outByLabel.getOrElse((v, label), IndexedSeq.empty)
      val t = if (ps.isEmpty) Nil else ps.map(p => p :: tail(p, label)).maxBy(_.size)
      tailMemo((v, label)) = t
      t
  }

  /** Every path of `hops` from `anchor`, as (vertices, traversed edges). */
  def paths(anchor: V, hops: Seq[String]): Seq[(List[V], List[(V, V, String)])] = {
    def go(cur: V, rest: Seq[String], used: Set[(V, V)])
    : Seq[(List[V], List[(V, V, String)])] = rest match {
      case Seq() => Seq((Nil, Nil))
      case h +: tl =>
        anyAdj.getOrElse((cur, h), IndexedSeq.empty).flatMap { case (nb, f, t, l, eid) =>
          if (used(eid)) Nil
          else go(nb, tl, used + eid).map { case (vs, es) => (nb :: vs, (f, t, l) :: es) }
        }
    }
    go(anchor, hops, Set.empty).map { case (vs, es) => (anchor :: vs, es) }
  }

  /** (path count, total edges over all paths incl. hierarchy tails). */
  private val pathMemo = mutable.Map.empty[(V, Int), (Long, Long)]
  def pathOracle(anchor: V, shapeIdx: Int, shape: Shape): (Long, Long) =
    pathMemo.getOrElseUpdate((anchor, shapeIdx), {
      val ps = paths(anchor, shape.hops)
      val edges = ps.map { case (vs, es) =>
        es.size.toLong + shape.tailLabel.map(l => tail(vs.last, l).size.toLong).getOrElse(0L)
      }.sum
      (ps.size.toLong, edges)
    })

  /** Phenotype subgraph over every cell set: (vertex count, edge count),
    * edges keyed as traversed (orientation + label), as the subgraph
    * dedups them. */
  def subgraphOracle(shapes: Seq[Shape]): (Long, Long) = {
    val vs = mutable.HashSet.empty[V]
    val es = mutable.HashSet.empty[(V, V, String)]
    for (cs <- cellSets; s <- shapes; (pv, pe) <- paths(cs, s.hops)) {
      vs ++= pv; es ++= pe
      s.tailLabel.foreach { l =>
        var cur = pv.last
        tail(cur, l).foreach { p => vs += p; es += ((cur, p, l)); cur = p }
      }
    }
    (vs.size.toLong, es.size.toLong)
  }

  // ---- search oracle -----------------------------------------------------
  /** Indexed text per vertex: its term, plus author cell terms (cell
    * sets) and official full names (genes). */
  lazy val searchText: Map[V, String] = {
    val extra = mutable.Map.empty[V, List[String]].withDefaultValue(Nil)
    a2cRows.foreach(r => extra(a2cCs(r)) ::= r.term)
    geneRows.foreach(g => extra(V("GS", g.name)) ::= g.fullName)
    expectedVertices.iterator.map(v => v -> (v.term :: extra(v).reverse).mkString(" ")).toMap
  }

  /** The edge-n-gram analyzer's token set, in plain Scala. */
  def tokens(text: String): Set[String] =
    text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).iterator.flatMap { w =>
      (3 to math.min(12, w.length)).map(w.substring(0, _)) :+ w
    }.toSet

  lazy val searchHits: Map[String, Long] = {
    val toks = searchText.values.map(tokens).toSeq
    searchTokens.map(t => t -> toks.count(_.contains(t)).toLong).toMap
  }

  // ---- ontology (OWL) ----------------------------------------------------
  final case class OwlClass(v: V, label: String, parent: Option[V],
                            partOf: Option[V], xref: Option[Int])

  val owlClasses: IndexedSeq[OwlClass] = {
    val pools = Seq(cl, uberon, go)
    val ub = pools(1)
    pools.toIndexedSeq.flatMap { nodes =>
      nodes.zipWithIndex.map { case (v, i) =>
        val parent = if (i < 3) None else Some(nodes(rnd.nextInt(i)))
        val partOf = if (v.coll != "UBERON" && rnd.nextInt(3) == 0) Some(pick(ub)) else None
        OwlClass(v, s"${pick(qualWords)} ${pick(cellWords)} ${v.coll.toLowerCase} $i",
          parent, partOf,
          if (parent.isDefined && rnd.nextInt(4) == 0) Some(10000000 + rnd.nextInt(9000000))
          else None)
      }
    }
  }

  /** (vertices, edges, quarantined, census rows (sKind, oKind) -> n). */
  lazy val ontologyExpect: (Long, Long, Long, Map[(String, String), Long]) = {
    val edges = mutable.HashSet.empty[(V, V)]
    owlClasses.foreach { c =>
      c.parent.foreach(p => edges += ((c.v, p)))
      c.partOf.foreach(p => edges += ((c.v, p)))
    }
    val restrictions = owlClasses.count(_.partOf.isDefined).toLong
    val axioms = owlClasses.count(_.xref.isDefined).toLong
    val parents = owlClasses.count(_.parent.isDefined).toLong
    val census = Map(
      // ontology header type, class types, named subClassOf
      ("uri", "uri") -> (1L + owlClasses.size + parents),
      ("uri", "literal") -> owlClasses.size.toLong,
      ("uri", "bnode") -> restrictions,
      ("bnode", "uri") -> (3 * restrictions + 4 * axioms),
      ("bnode", "literal") -> axioms)
    (owlClasses.size.toLong, edges.size.toLong, restrictions + axioms, census)
  }

  def owlXml: String = {
    val sb = new StringBuilder
    sb ++= """<?xml version="1.0"?>
<rdf:RDF xmlns="http://purl.obolibrary.org/obo/kn.owl#"
     xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
     xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
     xmlns:owl="http://www.w3.org/2002/07/owl#"
     xmlns:oboInOwl="http://www.geneontology.org/formats/oboInOwl#">
  <owl:Ontology rdf:about="http://purl.obolibrary.org/obo/kn.owl"/>
"""
    owlClasses.foreach { c =>
      sb ++= s"""  <owl:Class rdf:about="$PURL/${c.v.term}">
    <rdfs:label>${c.label}</rdfs:label>
"""
      c.parent.foreach(p => sb ++= s"""    <rdfs:subClassOf rdf:resource="$PURL/${p.term}"/>
""")
      c.partOf.foreach(p => sb ++= s"""    <rdfs:subClassOf>
      <owl:Restriction>
        <owl:onProperty rdf:resource="$PURL/BFO_0000050"/>
        <owl:someValuesFrom rdf:resource="$PURL/${p.term}"/>
      </owl:Restriction>
    </rdfs:subClassOf>
""")
      sb ++= "  </owl:Class>\n"
      for (p <- c.parent; x <- c.xref) {
        sb ++= s"""  <owl:Axiom>
    <owl:annotatedSource rdf:resource="$PURL/${c.v.term}"/>
    <owl:annotatedProperty rdf:resource="http://www.w3.org/2000/01/rdf-schema#subClassOf"/>
    <owl:annotatedTarget rdf:resource="$PURL/${p.term}"/>
    <oboInOwl:hasDbXref>PMID:$x</oboInOwl:hasDbXref>
  </owl:Axiom>
"""
      }
    }
    sb ++= "</rdf:RDF>\n"
    sb.toString
  }

  def roXml: String =
    """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
     xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
     xmlns:owl="http://www.w3.org/2002/07/owl#">
  <owl:ObjectProperty rdf:about="http://purl.obolibrary.org/obo/BFO_0000050">
    <rdfs:label>part of</rdfs:label>
  </owl:ObjectProperty>
  <owl:ObjectProperty rdf:about="http://purl.obolibrary.org/obo/RO_0002202">
    <rdfs:label>develops from</rdfs:label>
  </owl:ObjectProperty>
</rdf:RDF>
"""

  // ---- file rendering ----------------------------------------------------
  /** Write every input under `dir`; returns nothing, the layout is fixed. */
  def writeInputs(dir: String): Unit = {
    Files.write(s"$dir/nsforest.jsonl", nsRows.map { r =>
      Files.obj("clusterName" -> r.name, "clusterSize" -> r.size.toLong,
        "f_score" -> 0.5, "precision" -> 0.75, "TN" -> 10L, "FP" -> 2L,
        "FN" -> 3L, "TP" -> 40L, "marker_count" -> r.markers.size.toLong,
        "NSForest_markers" -> Files.pyList(r.markers),
        "binary_genes" -> Files.pyList(r.binary), "uuid" -> r.uuid,
        "median_silhouette" -> 0.61)
    })
    Files.write(s"$dir/author_to_cl.jsonl", a2cRows.map { r =>
      Files.obj("dataset_version_id" -> a2cDvs.mkString("--"),
        "PMID" -> "39000001", "PMCID" -> "PMC1000001", "DOI" -> "10.1/kn",
        "author_category" -> "cell type",
        "author_cell_set" -> r.set, "uuid" -> r.uuid,
        "author_cell_term" -> r.term,
        "cell_ontology_id" -> s"$PURL/${r.cl.term}",
        "uberon_entity_id" -> s"$PURL/${r.ub.term}",
        "match" -> "exact", "mapping_method" -> "manual",
        "NSForest_markers" -> Files.pyList(r.markers),
        "binary_genes" -> Files.pyList(r.binary), "clusterSize" -> 25L)
    })
    Files.write(s"$dir/annotation.jsonl", annRows.map { a =>
      Files.obj("subject_type" -> a.sType, "subject_name" -> a.sName,
        "subject_identifier" -> a.sId, "relation" -> a.rel,
        "object_type" -> a.oType, "object_name" -> a.oName,
        "object_identifier" -> a.oId)
    })
    Files.write(s"$dir/mesh2mondo.jsonl", mesh2mondo.map { case (m, v) =>
      Files.obj("mesh" -> m, "mondo" -> v.term) })
    Files.write(s"$dir/genes.jsonl", geneRows.map { g =>
      Files.obj("gene_entrez_id" -> g.entrez.toLong, "gene_name" -> g.name,
        "Gene_ID" -> g.entrez.toString, "Official_symbol" -> g.name,
        "Official_full_name" -> g.fullName, "Gene_type" -> "protein-coding",
        "Link_to_UniProt_ID" -> g.uniprot.map(u => s"https://www.uniprot.org/uniprotkb/$u").orNull,
        "Organism" -> "Homo sapiens", "UniProt_name" -> g.uniprot.orNull)
    })
    Files.write(s"$dir/schema.jsonl", schemaRows.map { case (s, p, o) =>
      Files.obj("subject_curie" -> s, "predicate_curie" -> p, "object_curie" -> o) })
    Files.write(s"$dir/kn.owl", Seq(owlXml))
    Files.write(s"$dir/ro.owl", Seq(roXml))
  }
}

object KnGen {
  /** Share of the reference's full scale that is generated. */
  val Scale = 0.02

  /** Full-scale pool sizes: the gene universe is the reference's
    * 40,839 human genes; the ontology pools are the approximate class
    * counts of the public releases the reference loads; PR is one protein
    * per protein-coding gene; CHEMBL and RS have no recorded size. The
    * derivation is in the benchmark notes. */
  val Full: Map[String, Int] = Map(
    "GS" -> 40839, "CL" -> 3000, "UBERON" -> 15000, "GO" -> 42000,
    "MONDO" -> 26000, "HP" -> 19000, "PATO" -> 2700, "NCBITaxon" -> 2900,
    "CHEBI" -> 60000, "PR" -> 20000, "CHEMBL" -> 4000, "RS" -> 20000)

  def size(coll: String): Int = math.max(1, math.round(Full(coll) * Scale).toInt)

  /** NSForest clusters and author cell sets each; no recorded size. */
  val Clusters = 60

  /** Deepest hierarchy chain, in edges: the deepest named subClassOf
    * chain of the reference's committed CL extract (macrophage.owl). */
  val MaxHeight = 9
}

/** One production query shape: hop collections and optional tail label. */
final case class Shape(hops: Seq[String], tailLabel: Option[String])
