package graft

import graft.core.{Doc, Span, SpanKinds}
import graft.engine.{DNode, EngineConfig, RuleCompiler, ShadowEngine}
import graft.rules.RuleParser
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** g5-family: per-quirk pinned behaviors (FIXTURES.md §4) plus tokenizer /
  * cursor / serializer edge cases. */
class EngineEdgeSpec extends AnyFunSuite {

  def run(html: String, rules: String*): (String, String, Seq[String]) = {
    val errs = new ArrayBuffer[String]
    val parsed = rules.map(RuleParser.parseStr(_, errs))
    val program = RuleCompiler.compile(parsed, EngineConfig(dataFormatter = _ => ""))
    val p2 = program.copy(compileErrors = errs.toVector ++ program.compileErrors)
    val out = new ShadowEngine(p2).process(Doc("t", Seq(Span(SpanKinds.Html, html, "", 0))))
    (out.spans.filter(s => s.kind != SpanKinds.Media).map(_.text).mkString, out.data_json, out.errors)
  }

  test("hide quirk: no-op when style exists (shadow_api.rs:373-377)") {
    val (html, _, errs) = run(
      """<b style="color:red">x</b><i>y</i>""",
      """{ "s": "b", "hide": true }""", """{ "s": "i", "hide": true }""")
    assert(html == """<b style="color:red">x</b><i style="display: none">y</i>""")
    assert(errs.isEmpty)
  }

  test("radio unchecked init to empty string; checkbox init to array (shadow_api.rs:489-521)") {
    val (_, json, _) = run(
      """<form><input type="radio" name="r" value="a" /><input type="checkbox" name="c" value="1" /></form>""",
      """{ "s": "form", "data": { "path": "f" }, "sub": [
          { "s": "input[name=\"r\"]", "data": { "values": { "r": {"source": "Value"} } } },
          { "s": "input[name=\"c\"]", "data": { "values": { "c": {"source": "Value"} } } } ] }""")
    assert(json == """{"f":{"r":"","c":[]}}""")
  }

  test("select tag is unsupported for Value (shadow_api.rs:480-484)") {
    val (_, _, errs) = run(
      """<select name="s"><option value="1">a</option></select>""",
      """{ "s": "select", "data": { "values": { "v": {"source": "Value"} } } }""")
    assert(errs == Seq("Unimplemented input: 'select' (TODO)"))
  }

  test("single-dot path is an error (shadow_data.rs:307-311)") {
    val (_, json, errs) = run("<div>x</div>",
      """{ "s": "div", "data": { "path": "." } }""")
    assert(errs == Seq("Invalid def : single dot is not a valid path"))
    assert(json == "{}")
  }

  test("invalid selector: error + stack pollution hits following trees (shadow_api.rs:206-212)") {
    val (html, json, errs) = run("<p class=\"ok\">x</p>",
      """{ "s": "p[", "hide": true }""",
      """{ "s": ".ok", "data": { "path": "d", "values": { "v": {"source": "Contents"} } } }""")
    assert(errs.length == 2)
    assert(errs.head.startsWith("Selector p[ is invalid : "))
    assert(errs(1).startsWith("Selector p[ .ok is invalid : "))
    assert(json == "{}")
    assert(html == "<p class=\"ok\">x</p>")
  }

  test("empty selector consumes an id but errors (shadow_api.rs:193-200)") {
    val (_, json, errs) = run("<div id=\"a\">x</div>",
      """{ "s": "", "hide": true }""",
      """{ "s": "#a", "data": { "path": "d", "values": { "v": {"source": "Contents"} } } }""")
    assert(errs == Seq("Empty selector"))
    assert(json == """{"d":{"v":"x"}}""")
  }

  test("E8 string-escape quirk: valid escapes unescaped raw; invalid -> empty (shadow_data.rs:45)") {
    assert(DNode.toJson({ val r = DNode.newObject(0, null)
      r.set("a", DNode.newString(1, r, """x\"y""")); r }) == """{"a":"x"y"}""")
    assert(DNode.toJson({ val r = DNode.newObject(0, null)
      r.set("a", DNode.newString(1, r, "ra\"w")); r }) == """{"a":""}""")
    assert(DNode.toJson({ val r = DNode.newObject(0, null)
      r.set("a", DNode.newString(1, r, """tab\there""")); r }) == "{\"a\":\"tab\there\"}")
    assert(DNode.toJson({ val r = DNode.newObject(0, null)
      r.set("a", DNode.newString(1, r, "trailing\\")); r }) == """{"a":""}""")
    // strict mode escapes correctly instead
    assert(DNode.toJson({ val r = DNode.newObject(0, null)
      r.set("a", DNode.newString(1, r, "ra\"w")); r }, strict = true) == """{"a":"ra\"w"}""")
  }

  test("deep merge: objects merge recursively, scalars override in place (shadow_data.rs:152-223)") {
    val r = DNode.newObject(0, null)
    r.set("k", { val o = DNode.newObject(1, r); o.set("x", DNode.newString(1, o, "1")); o })
    r.set("k", { val o = DNode.newObject(2, r); o.set("y", DNode.newString(2, o, "2")); o })
    assert(DNode.toJson(r) == """{"k":{"x":"1","y":"2"}}""")
    r.set("k", DNode.newString(3, r, "flat"))
    assert(DNode.toJson(r) == """{"k":"flat"}""")
  }

  test("rule-JSON whitespace quirk (shadow_json.rs:72)") {
    assert(RuleParser.preprocess("a\nb") == "ab")
    assert(RuleParser.preprocess("a    b") == "a  b")   // one pass: 4 -> 2
    assert(RuleParser.preprocess("a   b") == "a  b")    // 3 -> 2 (pair + lone)
  }

  test("implied end tags: option auto-closes; child combinator sees select as parent") {
    val (_, json, _) = run(
      """<select name="k"><option value="1">a</option><option value="2" selected="selected">b</option></select>""",
      """{ "s": "select > option[selected]", "data": { "path": "d", "values": { "v": {"source": "Value"} } } }""")
    assert(json == """{"d":{"v":"2"}}""")
  }

  test("rawtext elements: selectors cannot match inside script/style; content verbatim") {
    val (html, json, _) = run(
      """<script>var a = "<div class='x'>not a tag</div>";</script><div class="x">real</div>""",
      """{ "s": "div.x", "data": { "path": "d.", "values": { "v": {"source": "Contents"} } } }""")
    assert(json == """{"d":[{"v":"real"}]}""")
    assert(html.startsWith("""<script>var a = "<div class='x'>not a tag</div>";</script>"""))
  }

  test("comments, doctype, stray end tags pass through verbatim") {
    val src = "<!DOCTYPE html><!-- a <b> comment --><div>x</div></nope><?pi junk>"
    val (html, _, _) = run(src, """{ "s": "span", "hide": true }""")
    assert(html == src)
  }

  test("entities are NOT decoded; text-handler re-emission double-escapes (reference behavior)") {
    val (html, json, _) = run(
      """<div class="x" title="a&amp;b">T &lt;tag&gt; &amp; more</div>""",
      """{ "s": ".x", "data": { "path": "d", "values": { "t": {"source": "Attribute", "name": "title"}, "c": {"source": "Contents"} } } }""")
    // extraction sees the RAW (undecoded) source text
    assert(json == """{"d":{"t":"a&amp;b","c":"T &lt;tag&gt; &amp; more"}}""")
    // the reference text handler removes every chunk and re-emits the buffer
    // with ContentType::Text (shadow_api.rs:684) — lol_html escapes & < >,
    // so already-escaped source entities get DOUBLE-escaped whenever a text
    // rule touches the element; replicated faithfully
    assert(html == """<div class="x" title="a&amp;b">T &amp;lt;tag&amp;gt; &amp;amp; more</div>""")
    // an element NOT under a text rule passes through verbatim
    val (html2, _, _) = run(
      """<div class="x">T &lt;tag&gt;</div><div class="y">U &lt;u&gt;</div>""",
      """{ "s": ".x", "hide": true }""")
    assert(html2.contains("""<div class="y">U &lt;u&gt;</div>"""))
  }

  test("content upsert escapes Text; injections are raw Html (lol_html ContentType)") {
    val (html, _, _) = run("""<div id="t">old</div>""",
      """{ "s": "#t", "edit": { "content": { "op": "upsert", "val": "a <b> & c" } }, "append": ["<i>raw</i>"] }""")
    assert(html == """<div id="t">a &lt;b&gt; &amp; c<i>raw</i></div>""")
  }

  test("attr upsert escapes quotes and ampersands") {
    val (html, _, _) = run("""<div id="t">x</div>""",
      """{ "s": "#t", "edit": { "attrs": { "data-v": { "op": "upsert", "val": "a\"b&c" } } } }""")
    assert(html == """<div id="t" data-v="a&quot;b&amp;c">x</div>""")
  }

  test("data.values empty object: parse-time error, handlers disabled") {
    val (html, json, errs) = run("""<div class="z">x</div>""",
      """{ "s": ".z", "data": { "values": {} }, "delete": true }""")
    // parse-time: 'data.values is not an object' + handlers disabled =>
    // delete NEVER runs (use_element_handler forced false)
    assert(errs == Seq("Invalid def : 'data.values' is not an object"))
    assert(html == """<div class="z">x</div>""")
    assert(json == "{}")
  }

  test("unclosed elements: no end tag -> no cursor pop, no append, no injection") {
    val (html, json, _) = run("""<div class="a"><p>x""",
      """{ "s": ".a", "data": { "path": "d." }, "append": ["<i>never</i>"],
          "sub": [ { "s": "p", "data": { "values": { "v": {"source": "Contents"} } } } ] }""")
    assert(json == """{"d":[{"v":"x"}]}""")
    assert(!html.contains("never"))
  }

  test("duplicate attributes: first occurrence wins, bytes preserved") {
    val (html, json, _) = run("""<div id="a" id="b">x</div>""",
      """{ "s": "#a", "data": { "path": "d", "values": { "i": {"source": "Attribute", "name": "id"} } } }""")
    assert(json == """{"d":{"i":"a"}}""")
    assert(html == """<div id="a" id="b">x</div>""")
  }

  test("multi-text-node element: per-text-node processing, last wins for Contents") {
    val (html, json, _) = run("""<div class="m">first<wbr>second</div>""",
      """{ "s": ".m", "data": { "path": "d", "values": { "c": {"source": "Contents"} } } }""")
    // two text nodes; each processed separately; extraction key overridden
    assert(json == """{"d":{"c":"second"}}""")
    assert(html == """<div class="m">first<wbr>second</div>""")
  }

  test("sibling array cursor hop: two different array paths in sequence") {
    val (_, json, _) = run(
      """<ul><li class="a">1</li><li class="a">2</li><li class="b">3</li></ul>""",
      """{ "s": "ul", "sub": [
          { "s": "li.a", "data": { "path": "as.", "values": { "v": {"source": "Contents"} } } },
          { "s": "li.b", "data": { "path": "bs.", "values": { "v": {"source": "Contents"} } } } ] }""")
    assert(json == """{"as":[{"v":"1"},{"v":"2"}],"bs":[{"v":"3"}]}""")
  }

  test("as_json mode: output is the JSON alone") {
    val errs = new ArrayBuffer[String]
    val program = RuleCompiler.compile(
      Seq(RuleParser.parseStr("""{ "s": "div", "data": { "path": "d", "values": { "c": {"source": "Contents"} } } }""", errs)),
      EngineConfig(asJson = true))
    val out = new ShadowEngine(program).process(Doc("t", Seq(Span(SpanKinds.Html, "<body><div>x</div></body>", "", 0))))
    assert(out.spans.map(_.kind) == Seq(SpanKinds.Data))
    assert(out.spans.head.text == """{"d":{"c":"x"}}""")
  }

  test("multiple rules match one element: handlers fire in rule order") {
    val (html, json, _) = run("""<div class="x y">t</div>""",
      """{ "s": ".x", "edit": { "attrs": { "a": { "op": "upsert", "val": "1" } } } }""",
      """{ "s": ".y", "edit": { "attrs": { "a": { "op": "upsert", "val": "2" } }, "content": { "op": "upsert", "val": "Z" } },
          "data": { "path": "d", "values": { "a": {"source": "Attribute", "name": "a"} } } }""")
    // second rule overrides attr a; extraction sees post-edit value "2"
    assert(html == """<div class="x y" a="2">Z</div>""")
    assert(json == """{"d":{"a":"2"}}""")
  }

  test("adversarially deep doc (200k levels): iterative walks, no StackOverflow") {
    val depth = 200000
    val sb = new java.lang.StringBuilder(depth * 18 + 64)
    var i = 0
    while (i < depth) { sb.append("<section>"); i += 1 }
    sb.append("<p id=\"deep\">bottom</p>")
    i = 0
    while (i < depth) { sb.append("</section>"); i += 1 }
    val html = sb.toString
    val (outHtml, json, errs) = run(html,
      """{ "s": "#deep", "data": { "path": "d", "values": { "v": {"source": "Contents"} } },
          "edit": { "attrs": { "k": { "op": "upsert", "val": "1" } } } }""")
    assert(errs.isEmpty)
    assert(json == """{"d":{"v":"bottom"}}""")
    assert(outHtml == html.replace("<p id=\"deep\">", "<p id=\"deep\" k=\"1\">"))
    // boilerplate block walk over the same doc: iterative too
    val blocks = graft.engine.Boilerplate.mainContentSpans(html)
    assert(blocks.forall(_.kind == SpanKinds.Text))
  }

  test("deep per-level data-tree: returns a row (ok or error), never crashes the task") {
    // a rule with a trailing-dot path matching EVERY level builds a data
    // tree as deep as the DOM; the serializer may hit its depth limit, in
    // which case the row guard must return an error row (not kill the task)
    val depth = 300000
    val sb = new java.lang.StringBuilder(depth * 10 + 16)
    var i = 0
    while (i < depth) { sb.append("<div>"); i += 1 }
    i = 0
    while (i < depth) { sb.append("</div>"); i += 1 }
    val errs = new ArrayBuffer[String]
    val program = RuleCompiler.compile(
      Seq(RuleParser.parseStr("""{ "s": "div", "data": { "path": "d." } }""", errs)),
      EngineConfig(dataFormatter = _ => ""))
    val out = new ShadowEngine(program).process(
      Doc("deep", Seq(Span(SpanKinds.Html, sb.toString, "", 0))))
    assert(out.doc_id == "deep") // reached: the guard converted any Error into a row
    if (out.errors.nonEmpty)
      assert(out.errors.exists(_.contains("internal error")))
  }

  test("null span text adds nothing to the stream (the Spark decoder's null policy)") {
    val program = RuleCompiler.compile(Seq(RuleParser.parseStr(
      """{ "s": "p", "data": { "path": "d", "values": { "t": {"source": "Contents"} } } }""",
      new ArrayBuffer[String])), EngineConfig(dataFormatter = _ => ""))
    val out = new ShadowEngine(program).process(Doc("t", Seq(
      Span(SpanKinds.Html, null, "", 0), null, Span(null, "<i>", "", 1),
      Span(SpanKinds.Media, null, null, 2), Span(SpanKinds.Html, "<p>x</p>", "", 3))))
    assert(out.spans.filter(_.kind != SpanKinds.Media).map(_.text).mkString == "<p>x</p>")
    assert(out.spans.filter(_.kind == SpanKinds.Media).map(s => (s.text, s.media_ref)) == Seq(("", "")))
    assert(out.data_json == """{"d":{"t":"x"}}""")
    assert(out.errors.isEmpty)
  }

  test("E9: post-hoc transform over collected data values (shadow_data.rs:251-269)") {
    val r = DNode.newObject(0, null)
    r.set("a", DNode.newString(1, r, "xAy"))
    val arr = DNode.newArray(1, r)
    arr.push(DNode.newString(1, arr, "AA"))
    r.set("l", arr)
    r.transformStrings(_.replace("A", "B"))
    // values transformed, keys untouched (reference cannot change keys)
    assert(DNode.toJson(r) == """{"a":"xBy","l":["BB"]}""")
  }
}
