package graft.sources

import java.io.StringReader
import javax.xml.parsers.{SAXParser, SAXParserFactory}
import org.xml.sax.{Attributes, InputSource}
import org.xml.sax.helpers.DefaultHandler
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One streaming pass over an aggregate report's XML: the text of every
  * field a [[AggregateXml.Group]] names, read straight from the parser's
  * SAX events with no document tree.
  *
  * A field's text is what scala-xml's `(group \ "a" \ "b").text` gives:
  * the character and CDATA text of every element on that path below the
  * group element, in document order, nested markup included, comments and
  * processing instructions skipped. A repeated field element appends to
  * the same text. An element's name is the part after its first `:`, as
  * scala-xml's label, so prefixed and default-namespace reports read the
  * same. Each element on a group path opens a new [[AggregateXml.Slot]].
  *
  * The parser is the one scala-xml's `XML.loadString` runs, with the same
  * settings: not namespace-aware, no DOCTYPE (a Left), no external DTD or
  * entity. It reads to the end of the document, so markup after the root
  * element still fails. (The JDK's StAX reader is not an option: on a
  * `version="1.1"` declaration it switches to a scanner that binds
  * namespace prefixes even when it is not namespace-aware, so a report
  * with an unbound prefix would fail.)
  */
private[sources] object AggregateXml {

  /** A trie over element names; a terminal node is a field or a group. */
  private final class Node {
    val next = new java.util.HashMap[String, Node]
    var field: Int = -1
    var group: Group = null
    var groupIndex: Int = -1

    def at(path: String): Node =
      path.split('/').foldLeft(this)((n, name) => n.next.computeIfAbsent(name, _ => new Node))
  }

  /** A repeated element: its text fields and its nested groups, each by
    * its path below the element. The field path `""` is the element's own
    * text; a group with it has no other fields or groups.
    */
  final class Group(fields: Seq[String], groups: Seq[(String, Group)] = Nil) {
    private val fieldIndex = fields.zipWithIndex.toMap
    private val groupIndex = groups.map(_._1).zipWithIndex.toMap
    private[AggregateXml] val nFields = fields.size
    private[AggregateXml] val nGroups = groups.size
    private[AggregateXml] val ownText = fieldIndex.getOrElse("", -1)
    private[AggregateXml] val root = new Node
    fields.zipWithIndex.foreach { case (p, i) => if (p.nonEmpty) root.at(p).field = i }
    groups.zipWithIndex.foreach { case ((p, g), i) =>
      val n = root.at(p)
      n.group = g
      n.groupIndex = i
    }
    private[AggregateXml] def field(path: String): Int = fieldIndex(path)
    private[AggregateXml] def group(path: String): Int = groupIndex(path)
  }

  /** One element of a [[Group]]: the text captured for each field, and
    * the slots of its nested groups in document order.
    */
  final class Slot(group: Group) {
    // allocated on first use: many stay empty (a record with no override
    // reason, a report with no error)
    private val text = new Array[java.lang.StringBuilder](group.nFields)
    private val kids = new Array[ArrayBuffer[Slot]](group.nGroups)

    private[AggregateXml] def builder(i: Int): java.lang.StringBuilder = {
      if (text(i) == null) text(i) = new java.lang.StringBuilder
      text(i)
    }
    private[AggregateXml] def add(i: Int, s: Slot): Unit = {
      if (kids(i) == null) kids(i) = ArrayBuffer.empty[Slot]
      kids(i) += s
    }

    /** The field's text, trimmed; "" when no element carried it. */
    def apply(path: String): String = {
      val b = text(group.field(path))
      if (b == null) "" else b.toString.trim
    }
    def all(path: String): Seq[Slot] = {
      val k = kids(group.group(path))
      if (k == null) Nil else k.toSeq
    }
  }

  private val parser = ThreadLocal.withInitial[SAXParser] { () =>
    val f = SAXParserFactory.newDefaultInstance()
    f.setFeature("http://javax.xml.XMLConstants/feature/secure-processing", true)
    f.setFeature("http://apache.org/xml/features/nonvalidating/load-external-dtd", false)
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    f.setFeature("http://xml.org/sax/features/external-parameter-entities", false)
    f.setFeature("http://xml.org/sax/features/external-general-entities", false)
    f.setFeature("http://xml.org/sax/features/resolve-dtd-uris", false)
    f.setXIncludeAware(false)
    f.setNamespaceAware(false)
    f.newSAXParser()
  }

  /** `xml`'s root element read as `report`; a Left starts `invalid XML: `. */
  def read(xml: String, report: Group): Either[String, Slot] =
    try {
      val walk = new Walk(report)
      parser.get.parse(new InputSource(new StringReader(xml)), walk)
      Right(walk.top)
    } catch {
      case NonFatal(e) => Left(s"invalid XML: ${e.getMessage}")
    }

  private final class Walk(report: Group) extends DefaultHandler {
    val top = new Slot(report)
    private var open: List[(Node, Slot)] = Nil // the matched path, innermost first
    private var skip = 0 // depth inside a field element or an element no path reaches
    private var text: java.lang.StringBuilder = null // the open field's text

    override def startElement(uri: String, localName: String, qName: String, atts: Attributes): Unit =
      if (skip > 0) skip += 1
      else open match {
        case Nil => open = (report.root, top) :: Nil
        case (at, slot) :: _ =>
          val n = at.next.get(qName.substring(qName.indexOf(':') + 1))
          if (n == null) skip = 1
          else if (n.field >= 0) {
            text = slot.builder(n.field)
            skip = 1
          } else if (n.group != null) {
            val s = new Slot(n.group)
            slot.add(n.groupIndex, s)
            if (n.group.ownText >= 0) {
              text = s.builder(n.group.ownText)
              skip = 1
            } else open = (n.group.root, s) :: open
          } else open = (n, slot) :: open
      }

    override def endElement(uri: String, localName: String, qName: String): Unit =
      if (skip > 0) {
        skip -= 1
        if (skip == 0) text = null
      } else open = open.tail

    override def characters(ch: Array[Char], start: Int, length: Int): Unit =
      if (text != null) text.append(ch, start, length)
  }
}
