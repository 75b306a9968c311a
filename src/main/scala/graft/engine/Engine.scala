package graft.engine

import graft.core.{Doc, DocOut, Span, SpanKinds}
import graft.html.{Arena, HtmlParser}
import graft.rules.{DataDef, EditOp, RuleNode, ValueSource}
import graft.selector.{SelectorList, SelectorMatcher, SelectorParser}

import java.util.regex.{Matcher, Pattern, PatternSyntaxException}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Engine configuration (reference: ShadowApiOptions + data formatter,
  * shadow_api.rs:55-59,115-123). The formatter must be a serializable
  * function (it ships inside the broadcast program). */
final case class EngineConfig(
    asJson: Boolean = false,
    dataFormatter: String => String = EngineConfig.defaultFormatter,
    strictJsonEscape: Boolean = false,
    /** E9 (ShadowData::transform_strings, shadow_data.rs:251-269): the
      * reference user applies this post-hoc to the collected tree, so it
      * transforms the final data_json (values only, never keys) but NOT
      * the mid-stream body injection (S7), which has already serialized. */
    dataTransform: Option[String => String] = None)
    extends Serializable

object EngineConfig {
  /** default_data_formatter (shadow_api.rs:121-123). */
  val defaultFormatter: String => String =
    data => s"<script>var shadow_api_data = $data;</script>"
}

/** One flattened rule: absolute selector (rule-tree nesting joined with the
  * DESCENDANT combinator — shadow_api.rs:202-203), stable integer id
  * (deterministic DFS counter mirroring the reference's AtomicUsize),
  * handler-pruning flags (shadow_api.rs:234-278). */
final case class CompiledRule(
    id: Int,
    selectorSrc: String,
    selector: SelectorList,
    node: RuleNode,
    useElementHandler: Boolean,
    useTextHandler: Boolean)
    extends Serializable

final case class RuleProgram(
    rules: Vector[CompiledRule],
    compileErrors: Vector[String],
    config: EngineConfig)
    extends Serializable

object RuleCompiler {

  /** Port of ShadowApi::parse / parse_rec / parse_one
    * (shadow_api.rs:129-337). Quirks preserved: ids consumed even by
    * invalid rules; an INVALID selector returns without popping the
    * selector stack (observable: following siblings inherit the bad
    * prefix — shadow_api.rs:206-212 early return). */
  def compile(ruleTrees: Seq[RuleNode], config: EngineConfig = EngineConfig()): RuleProgram = {
    val errors = new ArrayBuffer[String]
    val rules = new ArrayBuffer[CompiledRule]
    var counter = 1
    val selectorStack = new ArrayBuffer[String]

    def parseOne(r: RuleNode): Unit = {
      val selectorId = counter
      counter += 1
      if (r.s.isEmpty) {
        errors += "Empty selector"
        return
      }
      selectorStack += r.s
      val currentSelector = selectorStack.mkString(" ")
      SelectorParser.parse(currentSelector) match {
        case Left(e) =>
          errors += s"Selector $currentSelector is invalid : $e"
          return // reference bug kept: stack not popped
        case Right(selObj) =>
          var useElement =
            r.hide || r.delete || r.edit.isDefined ||
            r.insertAfter.nonEmpty || r.insertBefore.nonEmpty ||
            r.append.nonEmpty || r.prepend.nonEmpty ||
            r.data.exists(_.path.exists(_.nonEmpty))
          var useText = false
          r.data.flatMap(_.values) match {
            case Some(values) if values.nonEmpty =>
              values.iterator.map(_._2).foreach {
                case ValueSource.Attribute(_) => useElement = true
                case ValueSource.Contents     => useText = true
                case ValueSource.Value        => useElement = true
              }
            case Some(_) =>
              errors += "Invalid def : 'data.values' is not an object"
              useElement = false
              useText = false
            case None =>
          }
          // NB: runs AFTER the empty-values disable, re-enabling the text
          // handler — reference order (shadow_api.rs:274-278)
          if (r.edit.exists(_.content.isDefined)) useText = true

          if (useElement || useText)
            rules += CompiledRule(selectorId, currentSelector, selObj, r, useElement, useText)
          r.sub.foreach(parseOne)
          selectorStack.remove(selectorStack.length - 1)
      }
    }

    ruleTrees.foreach(parseOne)
    RuleProgram(rules.toVector, errors.toVector, config)
  }
}

/** Reusable per-task output-span accumulator (parallel arrays, offset ==
  * index): the engine's output side allocates NO Span/DocOut/Seq objects
  * when consumed through `processStreamAcc` — the `ShadowExtract` plan
  * node writes UnsafeRows straight from it, and the `shadow_extract`
  * expression builds its html from it.
  * Contents are valid until the next process call on the same engine. */
final class SpanAcc {
  var n = 0
  var kinds: Array[String] = new Array[String](8)
  var texts: Array[String] = new Array[String](8)
  var refs: Array[String] = new Array[String](8)
  var dataJson: String = ""
  var errors: ArrayBuffer[String] = new ArrayBuffer[String]

  def clear(): Unit = n = 0

  def add(kind: String, text: String, ref: String): Unit = {
    if (n == kinds.length) {
      val cap = n * 2
      kinds = java.util.Arrays.copyOf(kinds, cap)
      texts = java.util.Arrays.copyOf(texts, cap)
      refs = java.util.Arrays.copyOf(refs, cap)
    }
    kinds(n) = kind; texts(n) = text; refs(n) = ref
    n += 1
  }

  def toSpans: Seq[Span] = {
    val out = new Array[Span](n)
    var i = 0
    while (i < n) { out(i) = Span(kinds(i), texts(i), refs(i), i); i += 1 }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }
}

/** Per-task engine instance: pure per-row function
  * (rules, spans) -> (spans_out, data_json, errors). Holds only a regex
  * memo cache across rows (reference: regex_map in the parse cache,
  * shadow_api.rs:141-143); all other state is row-local. */
final class ShadowEngine(program: RuleProgram) extends Serializable {

  @transient private lazy val regexCache = new mutable.HashMap[String, Pattern]
  /** tag/attr-name intern pool, reused across all docs of this task */
  @transient private lazy val namePool = new graft.html.NamePool
  /** per-task scratch arena + overlay arrays, reused across docs */
  @transient private lazy val scratchArena = new Arena("")
  @transient private lazy val scratch = new EngineScratch

  private val config = program.config
  private val rules = program.rules

  /** Rules bucketed by the rightmost compound's tag: per element only the
    * rules that could possibly match its tag are evaluated (plus the
    * tag-less "wildcard" rules), merged in ech registration order. */
  @transient private lazy val (rulesByTag, wildcardRules): (java.util.HashMap[String, Array[Int]], Array[Int]) = {
    val byTag = new mutable.HashMap[String, ArrayBuffer[Int]]
    val wild = new ArrayBuffer[Int]
    rules.zipWithIndex.foreach { case (r, i) =>
      SelectorMatcher.rightmostTags(r.selector) match {
        case Some(tags) => tags.distinct.foreach(t => byTag.getOrElseUpdate(t, new ArrayBuffer[Int]) += i)
        case None => wild += i
      }
    }
    val jm = new java.util.HashMap[String, Array[Int]]
    byTag.foreach { case (t, b) => jm.put(t, b.toArray) }
    (jm, wild.toArray)
  }
  private val noRules = new Array[Int](0)

  def process(doc: Doc): DocOut = {
    // ---- assemble the byte stream + media markers ----
    // Null policy of the Spark decoder (graft.spark.SpanStreamDecoder): a
    // null span or kind contributes nothing (a null span sorts first), a
    // media span's null ref/text is "", a null text adds no stream chars.
    def offsetOf(sp: Span): Int = if (sp == null) Int.MinValue else sp.offset
    val ordered = doc.spans match {
      case sp: scala.collection.IndexedSeq[Span] =>
        // skip the sort allocation when spans are already in offset order
        var sorted = true; var i = 1
        while (i < sp.length && sorted) { if (offsetOf(sp(i)) < offsetOf(sp(i - 1))) sorted = false; i += 1 }
        if (sorted) sp else sp.sortBy(offsetOf)
      case sp => sp.sortBy(offsetOf)
    }
    val sb = new java.lang.StringBuilder
    val markers = new ArrayBuffer[HtmlParser.MediaMarker]
    def orEmpty(s: String): String = if (s == null) "" else s
    ordered.foreach { sp =>
      if (sp != null && sp.kind != null) {
        if (sp.kind == SpanKinds.Media)
          markers += HtmlParser.MediaMarker(sb.length, orEmpty(sp.media_ref), orEmpty(sp.text))
        else if (sp.text != null) sb.append(sp.text)
      }
    }
    val acc = processStreamAcc(sb.toString, markers)
    DocOut(doc.doc_id, acc.toSpans, acc.dataJson, acc.errors.toSeq)
  }

  @transient private lazy val scratchAcc = new SpanAcc

  /** Zero-object output path: fills the per-task SpanAcc (parallel string
    * arrays) instead of allocating Span/DocOut/Seq per row — the
    * `ShadowExtract` plan node consumes it directly. The returned
    * accumulator is reused by the next call on this engine. */
  def processStreamAcc(stream: String,
                       markers: scala.collection.Seq[HtmlParser.MediaMarker]): SpanAcc = {
    val acc = scratchAcc
    acc.clear()
    acc.dataJson = ""
    val errors = acc.errors
    errors.clear()
    errors ++= program.compileErrors
    try {
      processInternal(stream, markers, errors, acc)
    } catch {
      case e: DataTreeError =>
        // The reference would panic (process crash); we record and move on.
        acc.clear(); acc.dataJson = ""
        errors += s"[engine] ${e.getMessage}"
      case e: StackOverflowError =>
        // Engine traversal is iterative (heap stacks), but residual deep
        // recursion (e.g. a pathological data tree in the JSON serializer)
        // must degrade to an error ROW, not kill the executor task: a
        // StackOverflowError is an Error, so a plain Exception guard would
        // let one adversarial crawled document fail the job after retries.
        acc.clear(); acc.dataJson = ""
        errors += "[engine] internal error: StackOverflowError: document exceeds depth limits"
      case scala.util.control.NonFatal(e) =>
        acc.clear(); acc.dataJson = ""
        errors += s"[engine] internal error: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    acc
  }

  private def processInternal(stream: String,
                              markers: scala.collection.Seq[HtmlParser.MediaMarker],
                              errors: ArrayBuffer[String], acc: SpanAcc): Unit = {
    val a = HtmlParser.parse(stream, markers, namePool, scratchArena)

    // ---- mutation overlay (per-task scratch, cleared for this doc) ----
    scratch.ensure(a.size)
    val removed = scratch.removed
    val contentOverride = scratch.contentOverride
    val beforeL = scratch.beforeL
    val prependL = scratch.prependL
    val appendL = scratch.appendL
    val afterL = scratch.afterL
    val chunkRemoved = scratch.chunkRemoved
    val chunkReplacement = scratch.chunkReplacement
    val attrOverlay = scratch.attrOverlay
    /** body end-tag JSON injection html, keyed by element node */
    val dataInjection = scratch.dataInjection

    val cursor = new DataCursor
    val textBuffers = new mutable.HashMap[Int, java.lang.StringBuilder]
    // rule indexes (into `rules`) with text handlers active for the open
    // element chain; parallel to an element-stack of marks
    val activeTextRules = new ArrayBuffer[Int]

    def attrsOf(el: Int): AttrOverlay = {
      var ov = attrOverlay(el)
      if (ov == null) { ov = new AttrOverlay(a, el); attrOverlay(el) = ov }
      ov
    }

    // ---- element handler (element_content_handler, shadow_api.rs:339-565) ----
    def elementHandler(rule: CompiledRule, el: Int, endActions: ArrayBuffer[() => Unit]): Unit = {
      val r = rule.node
      val delete = r.delete

      // (1) injections; lol_html accumulation order: before/append in call
      // order, after/prepend reversed (later call closest to the element)
      if (r.insertAfter.nonEmpty) {
        if (afterL(el) == null) afterL(el) = new ArrayBuffer[String]
        r.insertAfter.foreach(t => afterL(el).insert(0, t))
      }
      if (r.insertBefore.nonEmpty) {
        if (beforeL(el) == null) beforeL(el) = new ArrayBuffer[String]
        beforeL(el) ++= r.insertBefore
      }
      if (r.append.nonEmpty) {
        if (appendL(el) == null) appendL(el) = new ArrayBuffer[String]
        appendL(el) ++= r.append
      }
      if (r.prepend.nonEmpty) {
        if (prependL(el) == null) prependL(el) = new ArrayBuffer[String]
        r.prepend.foreach(t => prependL(el).insert(0, t))
      }

      if (!delete) {
        // (2) hide — quirk kept: NO-OP when a style attribute already
        // exists (shadow_api.rs:373-377 mutates an owned copy)
        if (r.hide) {
          val ov = attrsOf(el)
          if (!ov.has("style")) ov.set("style", "display: none")
        }
        r.edit.foreach { edit =>
          edit.attrs.foreach { case (key, op) =>
            val ov = attrsOf(el)
            op.op match {
              case "delete" => ov.remove(key)
              case "upsert" =>
                op.value match {
                  case Some(v) => ov.set(key, v)
                  case None => errors += s"Upsert requires val attribute (edit.attrs.$key)"
                }
              case "match_replace" =>
                (op.matchPat, op.value) match {
                  case (Some(pat), Some(newV)) =>
                    val old = { val v = ov.get(key); if (v == null) "" else v }
                    matchReplace(pat, old, newV, errors).foreach(ov.set(key, _))
                  case _ => // silently nothing, like the reference
                }
              case other =>
                errors += s"Invalid operation (edit.attrs.$key): $other. Allowed values : delete/upsert/match_replace"
            }
          }
          edit.content.foreach { c =>
            // (M10) empty-element path: upsert replaces the WHOLE subtree
            // (shadow_api.rs:419-425; tests/test_edge_cases.rs)
            if (c.op == "upsert" && a.canHaveContent(el) && c.value.isDefined)
              contentOverride(el) = escapeText(c.value.get)
          }
        }
      }

      // (3) data extraction at element open (shadow_api.rs:429-559)
      r.data match {
        case Some(dataDef) =>
          DataOps.onDataTagOpen(rule.id, dataDef, cursor) match {
            case Left(err) => errors += err
            case Right(dataItem) =>
              if (a.canHaveContent(el) && a.hasEndTag(el)) {
                endActions += { () =>
                  DataOps.onDataTagClose(dataDef, cursor).foreach(errors += _)
                }
              }
              dataDef.values match {
                case Some(values) if values.nonEmpty =>
                  val ov = attrsOf(el) // post-edit snapshot (shadow_api.rs:456-460)
                  values.foreach { case (key, source) =>
                    source match {
                      case ValueSource.Attribute(attrName) =>
                        if (attrName.nonEmpty) {
                          val v = ov.get(attrName)
                          if (v != null)
                            dataItem.set(key, DNode.newString(rule.id, dataItem, v))
                        }
                      case ValueSource.Contents => // text handler's job
                      case ValueSource.Value =>
                        extractFormValue(rule.id, a, el, ov, key, dataItem, errors)
                    }
                  }
                case Some(_) =>
                  errors += "Invalid def : 'data.values' is not an object"
                  return // reference early-returns BEFORE delete (shadow_api.rs:551)
                case None =>
              }
          }
        case None =>
      }

      // (4) delete last — injections already registered, extraction done
      if (delete) removed(el) = true
    }

    // form-value shortcut (shadow_api.rs:477-544)
    def extractFormValue(ruleId: Int, a: Arena, el: Int, ov: AttrOverlay,
                         key: String, dataItem: DNode, errors: ArrayBuffer[String]): Unit = {
      a.name(el) match {
        case "input" =>
          val inputType = ov.get("type")
          if (inputType != null) inputType match {
            case "radio" =>
              if (ov.has("checked"))
                dataItem.set(key, DNode.newString(ruleId, dataItem, Option(ov.get("value")).getOrElse("")))
              else if (dataItem.get(key).isEmpty)
                dataItem.set(key, DNode.newString(ruleId, dataItem, ""))
            case "checkbox" =>
              if (dataItem.get(key).isEmpty)
                dataItem.set(key, DNode.newArray(ruleId, dataItem))
              if (ov.has("checked"))
                dataItem.get(key).foreach(_.push(
                  DNode.newString(ruleId, dataItem, Option(ov.get("value")).getOrElse(""))))
            case _ =>
              dataItem.set(key, DNode.newString(ruleId, dataItem, Option(ov.get("value")).getOrElse("")))
          }
        case "option" =>
          dataItem.set(key, DNode.newString(ruleId, dataItem, Option(ov.get("value")).getOrElse("")))
        case other =>
          errors += s"Unimplemented input: '$other' (TODO)"
      }
    }

    // ---- text handler (text_content_handler, shadow_api.rs:610-688) ----
    def textHandler(ruleIdx: Int, chunk: Int): Unit = {
      val rule = rules(ruleIdx)
      val r = rule.node
      val buf = textBuffers.getOrElseUpdate(ruleIdx, new java.lang.StringBuilder)
      buf.append(a.src, a.rawS(chunk), a.rawE(chunk))
      chunkRemoved(chunk) = true
      if (a.lastInTextNode(chunk)) {
        var content = buf.toString
        r.edit.flatMap(_.content).foreach { c =>
          c.op match {
            case "delete" => content = ""
            case "upsert" =>
              c.value match {
                case Some(v) => content = v
                case None => errors += "Upsert requires an existing val content string"
              }
            case "match_replace" =>
              (c.matchPat, c.value) match {
                case (Some(pat), Some(newV)) =>
                  matchReplace(pat, content, newV, errors).foreach(content = _)
                case _ =>
              }
            case other =>
              errors += s"Invalid operation (edit.content): $other. Allowed values : delete/upsert/match_replace"
          }
        }
        r.data.flatMap(_.values).foreach { values =>
          if (values.nonEmpty) {
            values.foreach {
              case (key, ValueSource.Contents) =>
                cursor.current.set(key, DNode.newString(rule.id, cursor.current, content))
              case _ =>
            }
          }
        }
        chunkReplacement(chunk) = escapeText(content)
        buf.setLength(0)
      }
    }

    // ---- document-order traversal replaying lol_html handler dispatch ----
    // ITERATIVE (explicit heap stacks, not call recursion): crawled HTML can
    // nest arbitrarily deep, and a StackOverflowError would kill the task
    // (and after 4 retries, the job) instead of producing an error row.
    val scratchRules = new ArrayBuffer[Int](8) // reused per text node
    val elemMarks = new ArrayBuffer[Int](32) // activeTextRules length at enter
    val elemActs = new ArrayBuffer[ArrayBuffer[() => Unit]](32) // endActions per open elem

    def enterWalk(node: Int): Unit = a.kind(node) match {
      case a.nElem =>
        elemMarks += activeTextRules.length
        var endActions: ArrayBuffer[() => Unit] = null // lazy: most elements match nothing
        def actions(): ArrayBuffer[() => Unit] = {
          if (endActions == null) endActions = new ArrayBuffer[() => Unit](2)
          endActions
        }
        val tagged = { val t = rulesByTag.get(a.name(node)); if (t == null) noRules else t }
        var i = 0; var j = 0
        while (i < tagged.length || j < wildcardRules.length) {
          val ri =
            if (j >= wildcardRules.length || (i < tagged.length && tagged(i) < wildcardRules(j))) {
              i += 1; tagged(i - 1)
            } else { j += 1; wildcardRules(j - 1) }
          val rule = rules(ri)
          if (SelectorMatcher.matches(a, node, rule.selector)) {
            if (rule.useElementHandler) elementHandler(rule, node, actions())
            if (rule.useTextHandler) activeTextRules += ri
          }
        }
        // data injection registered last (data_content_handler appended
        // after all user rules — shadow_api.rs:153-161,690-712)
        if (!config.asJson && a.hasEndTag(node) && a.name(node) == "body") {
          val bodyNode = node
          actions() += { () =>
            dataInjection(bodyNode) = config.dataFormatter(DNode.toJson(cursor.root, config.strictJsonEscape))
          }
        }
        elemActs += endActions
      case a.nText =>
        val len = activeTextRules.length
        if (len == 1) textHandler(activeTextRules(0), node)
        else if (len > 1) {
          // fire in ech order, once per rule (buffers are per-rule);
          // allocation-free dedup+sort into a reused scratch buffer
          scratchRules.clear()
          var i = 0
          while (i < len) {
            val r = activeTextRules(i)
            var dup = false
            var d = 0
            while (d < scratchRules.length && !dup) { dup = scratchRules(d) == r; d += 1 }
            if (!dup) {
              // insertion keeping ascending order
              var k = scratchRules.length
              scratchRules += r
              while (k > 0 && scratchRules(k - 1) > r) {
                scratchRules(k) = scratchRules(k - 1); k -= 1
              }
              scratchRules(k) = r
            }
            i += 1
          }
          i = 0
          while (i < scratchRules.length) { textHandler(scratchRules(i), node); i += 1 }
        }
      case _ => // raw/media/root: nothing on enter
    }

    def exitWalk(node: Int): Unit =
      if (a.kind(node) == a.nElem) {
        val textMark = elemMarks.remove(elemMarks.length - 1)
        val endActions = elemActs.remove(elemActs.length - 1)
        activeTextRules.dropRightInPlace(activeTextRules.length - textMark)
        if (endActions != null && a.hasEndTag(node)) endActions.foreach(_.apply())
      }

    {
      var node = 0
      enterWalk(node)
      var done = false
      while (!done) {
        val c = a.firstChild(node)
        if (c != -1) { node = c; enterWalk(node) }
        else {
          exitWalk(node)
          var climbing = true
          while (climbing) {
            if (node == 0) { climbing = false; done = true }
            else {
              val s = a.nextSibling(node)
              if (s != -1) { node = s; enterWalk(node); climbing = false }
              else { node = a.parent(node); exitWalk(node) }
            }
          }
        }
      }
    }

    config.dataTransform.foreach(cursor.root.transformStrings)
    val dataJson = DNode.toJson(cursor.root, config.strictJsonEscape)

    // ---- serialization: arena + overlay -> output spans (into acc) ----
    val hb = new java.lang.StringBuilder(stream.length + 64)
    def flushHtml(): Unit =
      if (hb.length > 0) { acc.add(SpanKinds.Html, hb.toString, ""); hb.setLength(0) }

    def emitList(l: ArrayBuffer[String]): Unit = if (l != null) l.foreach(hb.append)

    def emitMediaSpan(node: Int): Unit = {
      flushHtml()
      acc.add(SpanKinds.Media, a.mediaText(a.rawS(node)), a.name(node))
    }

    def emitEndOf(node: Int): Unit = {
      emitList(appendL(node))
      if (dataInjection(node) != null && dataInjection(node).nonEmpty) {
        flushHtml()
        acc.add(SpanKinds.Data, dataInjection(node), "")
      }
      hb.append(a.src, a.rawEndS(node), a.rawEndE(node))
    }

    // ---- serialization walk, ITERATIVE like the rule walk (same deep-doc
    // rationale). `mediaRoot != -1` marks a removed / content-overridden
    // subtree: inside it only media spans pass through (north-rule
    // contract) — no overlays, no tags.
    var mediaRoot = -1

    def enterEmit(node: Int): Boolean = { // returns: descend into children?
      if (mediaRoot != -1) {
        if (a.kind(node) == a.nMedia) emitMediaSpan(node)
        true
      } else a.kind(node) match {
        case a.nRoot => true
        case a.nElem =>
          emitList(beforeL(node))
          if (removed(node)) {
            // element + content removed; before/after content survives,
            // media spans inside still pass through
            mediaRoot = node
          } else {
            emitStartTag(node)
            if (a.canHaveContent(node)) emitList(prependL(node))
            if (contentOverride(node) != null) {
              hb.append(contentOverride(node))
              mediaRoot = node // media inside replaced subtree still emitted
            }
          }
          true
        case a.nText =>
          if (chunkReplacement(node) != null) hb.append(chunkReplacement(node))
          else if (!chunkRemoved(node)) hb.append(a.src, a.rawS(node), a.rawE(node))
          false
        case a.nRaw =>
          hb.append(a.src, a.rawS(node), a.rawE(node))
          false
        case _ => // nMedia
          emitMediaSpan(node)
          false
      }
    }

    def exitEmit(node: Int): Unit = {
      if (mediaRoot == node) {
        mediaRoot = -1
        // removed elements drop their end tag + appends; an overridden
        // element still closes normally
        if (!removed(node) && a.hasEndTag(node)) emitEndOf(node)
        emitList(afterL(node))
      } else if (mediaRoot == -1 && a.kind(node) == a.nElem) {
        if (a.hasEndTag(node)) emitEndOf(node)
        emitList(afterL(node))
      }
    }

    def emit(start: Int): Unit = {
      var node = start
      var desc = enterEmit(node)
      var done = false
      while (!done) {
        val c = if (desc) a.firstChild(node) else -1
        if (c != -1) { node = c; desc = enterEmit(node) }
        else {
          exitEmit(node)
          var climbing = true
          while (climbing) {
            if (node == start) { climbing = false; done = true }
            else {
              val s = a.nextSibling(node)
              if (s != -1) { node = s; desc = enterEmit(node); climbing = false }
              else { node = a.parent(node); exitEmit(node) }
            }
          }
        }
      }
    }

    def emitStartTag(node: Int): Unit = {
      val ov = attrOverlay(node)
      if (ov == null || !ov.dirty) hb.append(a.src, a.rawS(node), a.rawE(node))
      else {
        hb.append('<').append(a.src, a.tagNameS(node), a.tagNameE(node))
        ov.emit(hb)
        hb.append(a.src, a.trailS(node), a.trailE(node))
      }
    }

    if (config.asJson) {
      // as_json: HTML output discarded; the JSON itself is the output
      // stream (process_json, shadow_api.rs:714-732)
      acc.add(SpanKinds.Data, dataJson, "")
    } else {
      emit(0)
      flushHtml()
    }

    acc.dataJson = dataJson
  }

  /** lol_html ContentType::Text escaping. */
  private def escapeText(s: String): String = {
    var i = 0; var needs = false
    while (i < s.length && !needs) {
      val c = s.charAt(i); if (c == '<' || c == '>' || c == '&') needs = true; i += 1
    }
    if (!needs) return s
    val sb = new java.lang.StringBuilder(s.length + 16)
    i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case '&' => sb.append("&amp;")
        case c   => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** match_replace (shadow_api.rs:570-608): per-pattern memo cache; compile
    * failures are NOT cached (error pushed on every use); returns None when
    * the replacement equals the input. Replacement syntax is the Rust regex
    * `$N`/`${name}`/`$$` form. */
  private def matchReplace(pat: String, old: String, newValue: String,
                           errors: ArrayBuffer[String]): Option[String] = {
    val compiled = regexCache.get(pat) match {
      case some @ Some(_) => some
      case None =>
        try {
          val p = Pattern.compile(pat)
          regexCache.update(pat, p)
          Some(p)
        } catch {
          case e: PatternSyntaxException =>
            errors += s"Invalid regex: $pat | Error: ${e.getMessage}"
            None
        }
    }
    compiled.flatMap { p =>
      val result = rustReplaceAll(p, old, newValue)
      if (result != old) Some(result) else None
    }
  }

  /** replace_all with Rust-regex replacement-string semantics:
    * `$$` literal, `$1`/`$name` longest word-char run (digits -> numbered
    * group), `${name}` braced; unmatched/unknown groups expand to "". */
  private def rustReplaceAll(p: Pattern, input: String, repl: String): String = {
    // Java's Matcher.find() self-advances after zero-width matches, which
    // matches Rust replace_all's non-overlapping semantics.
    val m = p.matcher(input)
    val sb = new java.lang.StringBuilder
    var last = 0
    while (m.find()) {
      sb.append(input, last, m.start())
      expandReplacement(sb, m, repl)
      last = m.end()
    }
    sb.append(input, last, input.length)
    sb.toString
  }

  private def expandReplacement(sb: java.lang.StringBuilder, m: Matcher, repl: String): Unit = {
    var i = 0
    val n = repl.length
    while (i < n) {
      val c = repl.charAt(i)
      if (c == '$' && i + 1 < n) {
        val c1 = repl.charAt(i + 1)
        if (c1 == '$') { sb.append('$'); i += 2 }
        else if (c1 == '{') {
          val close = repl.indexOf('}', i + 2)
          if (close < 0) { sb.append(repl.substring(i)); i = n }
          else { appendGroup(sb, m, repl.substring(i + 2, close)); i = close + 1 }
        } else if (isWordChar(c1)) {
          var j = i + 1
          while (j < n && isWordChar(repl.charAt(j))) j += 1
          appendGroup(sb, m, repl.substring(i + 1, j))
          i = j
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
  }

  private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'

  private def appendGroup(sb: java.lang.StringBuilder, m: Matcher, name: String): Unit = {
    val g: String =
      if (name.nonEmpty && name.forall(c => c >= '0' && c <= '9')) {
        val idx = try name.toInt catch { case _: Exception => -1 }
        if (idx >= 0 && idx <= m.groupCount()) m.group(idx) else null
      } else {
        try m.group(name) catch { case _: Exception => null }
      }
    if (g != null) sb.append(g)
  }
}

/** Lazily materialized logical attribute list with edit tracking; preserves
  * original bytes for untouched attrs (region emit, zero copies), rebuilds
  * minimally for edited ones. */
final class AttrOverlay(a: Arena, el: Int) {
  // states
  private final val SKeep = 0; private final val SEdited = 1
  private final val SAdded = 2; private final val SRemoved = 3
  /** HTML5 duplicate attr: logically invisible, bytes preserved */
  private final val SDup = 4

  private val n0 = a.attrEnd(el) - a.attrStart(el)
  private val origIdx = new ArrayBuffer[Int](n0 + 2)
  private val names = new ArrayBuffer[String](n0 + 2)
  /** edited/added value; null while untouched (read through the arena) */
  private val values = new ArrayBuffer[String](n0 + 2)
  private val states = new ArrayBuffer[Int](n0 + 2)
  var dirty = false

  {
    var i = a.attrStart(el)
    while (i < a.attrEnd(el)) {
      origIdx += i
      names += a.attrName(i)
      values += null
      states += (if (a.attrDup(i)) SDup else SKeep)
      i += 1
    }
  }

  private def findIdx(name: String): Int = {
    val lower = name.toLowerCase(java.util.Locale.ROOT)
    var i = 0
    while (i < names.length) {
      if (states(i) != SRemoved && states(i) != SDup &&
          ((names(i) eq lower) || names(i) == lower)) return i
      i += 1
    }
    -1
  }

  def has(name: String): Boolean = findIdx(name) >= 0

  /** current value (materializes from the source when untouched) or null */
  def get(name: String): String = {
    val i = findIdx(name)
    if (i < 0) null
    else if (values(i) != null) values(i)
    else a.attrValue(origIdx(i))
  }

  def set(name: String, v: String): Unit = {
    val i = findIdx(name)
    if (i >= 0) {
      values(i) = v
      if (states(i) == SKeep) states(i) = SEdited
      dirty = true
    } else {
      origIdx += -1; names += name.toLowerCase(java.util.Locale.ROOT)
      values += v; states += SAdded
      dirty = true
    }
  }

  def remove(name: String): Unit = {
    val lower = name.toLowerCase(java.util.Locale.ROOT)
    var i = 0
    while (i < names.length) {
      if (states(i) != SDup && states(i) != SRemoved && names(i) == lower) {
        states(i) = SRemoved; dirty = true
      }
      i += 1
    }
  }

  def emit(hb: java.lang.StringBuilder): Unit = {
    var i = 0
    while (i < names.length) {
      states(i) match {
        case SKeep | SDup =>
          val oi = origIdx(i)
          hb.append(a.src, a.attrPreS(oi), a.attrPreE(oi))
          hb.append(a.src, a.attrRawS(oi), a.attrRawE(oi))
        case SEdited =>
          val oi = origIdx(i)
          hb.append(a.src, a.attrPreS(oi), a.attrPreE(oi))
          hb.append(a.src, a.attrNameRawS(oi), a.attrNameRawE(oi))
          hb.append("=\"")
          appendAttrEscaped(hb, values(i))
          hb.append('"')
        case SAdded =>
          hb.append(' ').append(names(i)).append("=\"")
          appendAttrEscaped(hb, values(i))
          hb.append('"')
        case SRemoved => // dropped with its preceding whitespace
      }
      i += 1
    }
  }

  private def appendAttrEscaped(hb: java.lang.StringBuilder, v: String): Unit = {
    var i = 0
    while (i < v.length) {
      v.charAt(i) match {
        case '"' => hb.append("&quot;")
        case '&' => hb.append("&amp;")
        case c   => hb.append(c)
      }
      i += 1
    }
  }
}

/** Per-task reusable overlay arrays (cleared up to the previous doc's node
  * count on ensure()); avoids 10 fresh arrays per row. */
final class EngineScratch {
  var removed: Array[Boolean] = new Array[Boolean](0)
  var contentOverride: Array[String] = new Array[String](0)
  var beforeL: Array[ArrayBuffer[String]] = new Array[ArrayBuffer[String]](0)
  var prependL: Array[ArrayBuffer[String]] = new Array[ArrayBuffer[String]](0)
  var appendL: Array[ArrayBuffer[String]] = new Array[ArrayBuffer[String]](0)
  var afterL: Array[ArrayBuffer[String]] = new Array[ArrayBuffer[String]](0)
  var chunkRemoved: Array[Boolean] = new Array[Boolean](0)
  var chunkReplacement: Array[String] = new Array[String](0)
  var attrOverlay: Array[AttrOverlay] = new Array[AttrOverlay](0)
  var dataInjection: Array[String] = new Array[String](0)
  private var used = 0

  def ensure(n: Int): Unit = {
    if (n > removed.length) {
      val cap = math.max(n, removed.length * 2)
      removed = new Array[Boolean](cap)
      contentOverride = new Array[String](cap)
      beforeL = new Array[ArrayBuffer[String]](cap)
      prependL = new Array[ArrayBuffer[String]](cap)
      appendL = new Array[ArrayBuffer[String]](cap)
      afterL = new Array[ArrayBuffer[String]](cap)
      chunkRemoved = new Array[Boolean](cap)
      chunkReplacement = new Array[String](cap)
      attrOverlay = new Array[AttrOverlay](cap)
      dataInjection = new Array[String](cap)
    } else {
      java.util.Arrays.fill(removed, 0, used, false)
      java.util.Arrays.fill(contentOverride.asInstanceOf[Array[AnyRef]], 0, used, null)
      java.util.Arrays.fill(beforeL.asInstanceOf[Array[AnyRef]], 0, used, null)
      java.util.Arrays.fill(prependL.asInstanceOf[Array[AnyRef]], 0, used, null)
      java.util.Arrays.fill(appendL.asInstanceOf[Array[AnyRef]], 0, used, null)
      java.util.Arrays.fill(afterL.asInstanceOf[Array[AnyRef]], 0, used, null)
      java.util.Arrays.fill(chunkRemoved, 0, used, false)
      java.util.Arrays.fill(chunkReplacement.asInstanceOf[Array[AnyRef]], 0, used, null)
      java.util.Arrays.fill(attrOverlay.asInstanceOf[Array[AnyRef]], 0, used, null)
      java.util.Arrays.fill(dataInjection.asInstanceOf[Array[AnyRef]], 0, used, null)
    }
    used = n
  }
}
