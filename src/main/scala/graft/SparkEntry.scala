package graft

import graft.core.SpanKinds
import graft.corpus.Corpus
import graft.engine.{EngineConfig, RuleCompiler, RuleProgram}
import graft.pipeline.{Ann, Dedup, Multimodal, TextStats, WarcCodec, WebArchive}
import graft.functions.WebFunctions
import graft.rules.RuleParser
import graft.spark.ShadowSpark
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Driver contract (see README/SURVEY.md §7): one `queries` entry per
  * implemented operator from SURVEY.md §2 plus the training-pipeline
  * operators; `oracleSql` gives DuckDB-equivalent SQL over the same parquet
  * tables for every SQL-expressible query.
  *
  * Engine queries build deterministic HTML from the `documents` table with
  * `concat(...)` so DuckDB can reconstruct the engine's expected output with
  * string concatenation — a real end-to-end oracle for rewrite+extraction.
  * Both the template and its expected output are composed from shared parts
  * (`Tpl`) so the Spark side and the SQL side cannot drift.
  */
object SparkEntry {

  // ---------------------------------------------------------------- helpers

  /** A template part: either a literal or a per-doc field. */
  private sealed trait Part
  private final case class L(s: String) extends Part
  private final case class F(sql: String, col: Column) extends Part

  private val fId = F("CAST(doc_id AS VARCHAR)", col("doc_id").cast("string"))
  private val fText = F("text", col("text"))
  private val fLang = F("lang", col("lang"))
  private val fSource = F("source", col("source"))

  /** Spark concat column for a template. */
  private def tplCol(parts: Seq[Part]): Column =
    concat(parts.map { case L(s) => lit(s); case F(_, c) => c }: _*)

  /** DuckDB || expression for a template (single quotes doubled). */
  private def tplSql(parts: Seq[Part]): String =
    parts.map {
      case L(s) => "'" + s.replace("'", "''") + "'"
      case F(sql, _) => sql
    }.mkString(" || ")

  /** Resolved-source cache, keyed (session, path): `spark.read.parquet`
    * re-lists the path and re-reads the parquet footer for schema on
    * EVERY call (~50 ms each here) — metadata work a catalogued table
    * would cache in the session catalog. Reusing the resolved DataFrame
    * (an immutable logical plan) is the same metadata caching; every
    * query still scans the parquet data itself — no rows, results or
    * intermediates are cached. */
  private val sourceCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private def sourceTable(spark: SparkSession, path: String): DataFrame =
    sourceCache.computeIfAbsent((spark, path), _ => spark.read.parquet(path))

  private def documents(spark: SparkSession, dir: String): DataFrame =
    sourceTable(spark, s"$dir/documents.parquet")
  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    sourceTable(spark, s"$dir/embeddings.parquet")
  private def lineitem(spark: SparkSession, dir: String): DataFrame =
    sourceTable(spark, s"$dir/lineitem.parquet")
  private def events(spark: SparkSession, dir: String): DataFrame =
    sourceTable(spark, s"$dir/events.parquet")

  private def compile(rules: Seq[String], config: EngineConfig = EngineConfig()): RuleProgram = {
    val errs = new ArrayBuffer[String]
    val parsed = rules.map(RuleParser.parseStr(_, errs))
    val p = RuleCompiler.compile(parsed, config)
    p.copy(compileErrors = errs.toVector ++ p.compileErrors)
  }

  /** Canonical spans column of one document: `html` as one html span, or
    * as `chunk`-char html spans when `chunk` > 0 (chunk-invariance path). */
  private def htmlSpans(html: Column, chunk: Int = 0): Column = {
    def span(text: Column, offset: Column): Column =
      struct(lit(SpanKinds.Html).as("kind"), text.as("text"), lit("").as("media_ref"),
        offset.as("offset"))
    if (chunk <= 0) array(span(html, lit(0)))
    else transform(sequence(lit(0), ((length(html) - 1) / chunk).cast("int")),
      i => span(html.substr(i * chunk + 1, lit(chunk)), i))
  }

  /** The canonical (doc_id, spans) frame of per-doc HTML built from
    * `documents` with `template`. */
  private def htmlDocs(spark: SparkSession, dir: String, template: Seq[Part],
                       chunk: Int = 0): DataFrame =
    documents(spark, dir).select(col("doc_id").cast("string").as("doc_id"),
      htmlSpans(tplCol(template), chunk).as("spans"))

  /** Run the engine over per-doc HTML built from `documents`; returns
    * (doc_id, html, data_json, errs), where html joins the output's html
    * and data spans. */
  private def runEngine(spark: SparkSession, dir: String, template: Seq[Part],
                        rules: Seq[String], config: EngineConfig = EngineConfig(),
                        chunk: Int = 0): DataFrame = {
    val htmlAndData = filter(col("spans"), _("kind").isin(SpanKinds.Html, SpanKinds.Data))
    ShadowSpark.processColumnar(htmlDocs(spark, dir, template, chunk), compile(rules, config))
      .select(col("doc_id"), array_join(transform(htmlAndData, _("text")), "").as("html"),
        col("data_json"), array_join(col("errors"), "|").as("errs"))
      .orderBy("doc_id")
  }

  private def oracleFor(expectedHtml: Seq[Part], expectedJson: Seq[Part],
                        expectedErrs: String = ""): String =
    s"SELECT CAST(doc_id AS VARCHAR) AS doc_id, ${tplSql(expectedHtml)} AS html, " +
      s"${tplSql(expectedJson)} AS data_json, '${expectedErrs.replace("'", "''")}' AS errs " +
      "FROM documents ORDER BY 1"

  // ------------------------------------------------------- engine templates

  /** Flagship template: exercises head+body rules, forms, collections. */
  private val tplMain: Seq[Part] = Seq(
    L("<html><head><title>Doc "), fId, L("</title><meta name=\"m1\" content=\""), fLang,
    L(" content\"></head><body><div id=\"main\" class=\"content\">"), fText,
    L("</div><a class=\"top_link\" href=\"http://site/"), fSource, L("/"), fId,
    L("\" style=\"display:none\">L"), fId,
    L("</a><div class=\"it\"><a href=\"x/"), fId, L("/1\">T1</a></div><div class=\"it\"><a href=\"x/"), fId,
    L("/2\">T2</a></div><form><input type=\"text\" name=\"q\" value=\""), fLang, L("-"), fId,
    L("\" /><input type=\"checkbox\" name=\"cb\" value=\"1\" checked /><input type=\"checkbox\" name=\"cb\" value=\"2\" /></form></body></html>"))

  private val rulesMain: String =
    """
    {
        "s": "body",
        "sub": [
            { "s": "#main", "data": { "path": "meta.info", "values": { "c": {"source": "Contents"} } } },
            {
                "s": "a.top_link",
                "edit": { "attrs": { "style": { "op": "delete" }, "id": { "op": "upsert", "val": "lnk" } },
                          "content": { "op": "upsert", "val": "NewLink" } },
                "data": { "path": "link", "values": { "url": {"source": "Attribute", "name": "href"}, "name": {"source": "Contents"} } },
                "hide": true
            },
            { "s": ".it", "data": { "path": "items." },
              "sub": [ { "s": "a", "data": { "values": { "href": {"source": "Attribute", "name": "href"}, "t": {"source": "Contents"} } } } ] },
            { "s": "input[name=\"q\"]", "data": { "path": "form", "values": { "q": {"source": "Value"} } } },
            { "s": "input[name=\"cb\"][checked]", "data": { "values": { "cb": {"source": "Value"} } } }
        ]
    }
    """

  private val rulesHead: String =
    """
    { "s": "head", "sub": [
        { "s": "title", "edit": { "content": { "op": "upsert", "val": "New Title" } } },
        { "s": "meta", "edit": { "attrs": { "content": { "op": "match_replace", "match": "^(.*) content$", "val": "just $1" } } } }
    ] }
    """

  /** Expected rewritten html for tplMain under rulesHead+rulesMain.
    * Derivation notes: title upsert; meta match_replace; a.top_link hide is
    * a NO-OP (style exists), style deleted, id=lnk appended, content
    * replaced; the data JSON is injected right before </body>. The cursor
    * walk: #main -> meta.info (popped), link (popped), items array (two
    * entries), form object: q then sibling-values cb set at form level...
    * cb rule has NO path so it writes into the CURRENT cursor node = form
    * (descended by input[name=q]? no — q has path "form" and is void, so no
    * pop happens (void elements never fire end-tag handlers) => cursor
    * stays at form; cb lands in form too). */
  private val tplMainExpectedHtml: Seq[Part] = Seq(
    L("<html><head><title>New Title</title><meta name=\"m1\" content=\"just "), fLang,
    L("\"></head><body><div id=\"main\" class=\"content\">"), fText,
    L("</div><a class=\"top_link\" href=\"http://site/"), fSource, L("/"), fId,
    L("\" id=\"lnk\">NewLink</a><div class=\"it\"><a href=\"x/"), fId,
    L("/1\">T1</a></div><div class=\"it\"><a href=\"x/"), fId,
    L("/2\">T2</a></div><form><input type=\"text\" name=\"q\" value=\""), fLang, L("-"), fId,
    L("\" /><input type=\"checkbox\" name=\"cb\" value=\"1\" checked /><input type=\"checkbox\" name=\"cb\" value=\"2\" /></form>"),
    L("<script>var shadow_api_data = ")) ++ tplMainExpectedJson ++ Seq(L(";</script></body></html>"))

  private lazy val tplMainExpectedJson: Seq[Part] = Seq(
    L("{\"meta\":{\"info\":{\"c\":\""), fText,
    L("\"}},\"link\":{\"url\":\"http://site/"), fSource, L("/"), fId,
    L("\",\"name\":\"NewLink\"},\"items\":[{\"href\":\"x/"), fId,
    L("/1\",\"t\":\"T1\"},{\"href\":\"x/"), fId,
    L("/2\",\"t\":\"T2\"}],\"form\":{\"q\":\""), fLang, L("-"), fId,
    L("\",\"cb\":[\"1\"]}}"))

  // ---------------------------------------------------------------- queries

  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val docs = Corpus.generate(spark, 200, 8, megaEvery = 100)
    val program = compile(Seq(Corpus.headRules, Corpus.corpusRules))
    ShadowSpark.process(docs, program).toDF()
      .select(col("doc_id"), size(col("spans")).as("n_spans"),
        length(col("data_json")).as("json_len"), size(col("errors")).as("n_errors"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- engine: sources / full pipeline (SURVEY §2.1) ----
    "s1_full_rewrite" -> ((s, dir) =>
      runEngine(s, dir, tplMain, Seq(rulesHead, rulesMain))),
    "s2_chunk_invariance" -> ((s, dir) =>
      runEngine(s, dir, tplMain, Seq(rulesHead, rulesMain), chunk = 7)),
    "s6_as_json" -> ((s, dir) =>
      runEngine(s, dir, tplMain, Seq(rulesHead, rulesMain), EngineConfig(asJson = true))
        .select(col("doc_id"), col("html").as("json_out"))),
    "s9_spans_to_rows" -> ((s, dir) => {
      // engine output spans -> rows via the built-in explode Generator
      ShadowSpark.processColumnar(htmlDocs(s, dir, tplMain), compile(Seq(rulesHead, rulesMain)))
        .select(col("doc_id"), explode(col("spans")).as("sp"))
        .groupBy("doc_id")
        .agg(count(when(col("sp.kind") === "html", 1)).as("n_html"),
          count(when(col("sp.kind") === "data", 1)).as("n_data"),
          count(when(col("sp.kind") === "media", 1)).as("n_media"),
          sum(length(col("sp.text"))).as("total_chars"))
        .orderBy("doc_id")
    }),
    "s7_s8_data_formatter" -> ((s, dir) =>
      runEngine(s, dir, tplMain, Seq(rulesMain),
        EngineConfig(dataFormatter = d => s"<!-- graft:$d -->"))
        .select(col("doc_id"), col("data_json"))),

    // ---- engine: mutations (SURVEY §2.3) ----
    "m1_m4_injections" -> ((s, dir) =>
      runEngine(s, dir,
        Seq(L("<div id=\"w\"><div id=\"x\">"), fSource, L("</div></div>")),
        Seq("""{ "s": "#x", "append": ["<i>A1</i>", "<i>A2</i>"], "prepend": ["<i>P1</i>", "<i>P2</i>"],
                "insert_before": ["<i>B1</i>", "<i>B2</i>"], "insert_after": ["<i>F1</i>", "<i>F2</i>"] }"""))),
    "m5_hide_quirk" -> ((s, dir) =>
      runEngine(s, dir,
        Seq(L("<p><b class=\"h\" style=\"color:red\">"), fLang, L("</b><i class=\"h\">"), fSource, L("</i></p>")),
        Seq("""{ "s": ".h", "hide": true }"""))),
    "m6_delete_extract" -> ((s, dir) =>
      runEngine(s, dir,
        Seq(L("<div class=\"del\">"), fText, L("</div><p>"), fLang, L("</p>")),
        Seq("""{ "s": ".del", "data": { "path": "gone.", "values": { "c": {"source": "Contents"} } }, "delete": true }"""))),
    "m7_m8_attr_edit" -> ((s, dir) =>
      runEngine(s, dir,
        Seq(L("<a id=\"l\" href=\"h/"), fId, L("\" rel=\"x\">"), fSource, L("</a>")),
        Seq("""{ "s": "#l", "edit": { "attrs": { "rel": { "op": "delete" }, "target": { "op": "upsert", "val": "_blank" } } } }"""))),
    "m9_x1_match_replace_attr" -> ((s, dir) =>
      runEngine(s, dir,
        Seq(L("<meta name=\"m\" content=\""), fLang, L(" content\"><p>ok</p>")),
        Seq("""{ "s": "meta", "edit": { "attrs": { "content": { "op": "match_replace", "match": "^(.*) content$", "val": "just $1" } } } }"""))),
    "m10_subtree_upsert" -> ((s, dir) =>
      runEngine(s, dir,
        Seq(L("<b id=\"t\"><i>old "), fText, L("</i><wbr>tail</b>")),
        Seq("""{ "s": "#t", "edit": { "content": { "op": "upsert", "val": "fresh <x>" } } }"""))),
    "m11_content_delete" -> ((s, dir) =>
      runEngine(s, dir,
        Seq(L("<p id=\"d\">"), fText, L("</p><p id=\"k\">"), fLang, L("</p>")),
        Seq("""{ "s": "#d", "edit": { "content": { "op": "delete" } } }"""))),
    "m12_text_coalescing" -> ((s, dir) =>
      // 5-char spans: the text node is split across many chunks; the regex
      // must see the COALESCED text (anchors ^$ over the whole run)
      runEngine(s, dir,
        Seq(L("<p id=\"c\">"), fText, L("</p>")),
        Seq("""{ "s": "#c", "edit": { "content": { "op": "match_replace", "match": "^(.*)$", "val": "[$1]" } } }"""),
        chunk = 5)),

    // ---- engine: extraction (SURVEY §2.4) ----
    "e1_extract_attribute" -> ((s, dir) =>
      runEngine(s, dir,
        Seq(L("<a class=\"z\" href=\"http://site/"), fSource, L("/"), fId, L("\">t</a>")),
        Seq("""{ "s": "a.z", "data": { "path": "d", "values": { "url": {"source": "Attribute", "name": "href"} } } }"""))
        .select(col("doc_id"), get_json_object(col("data_json"), "$.d.url").as("url"))),
    "e2_extract_contents" -> ((s, dir) =>
      runEngine(s, dir,
        Seq(L("<div id=\"main\">"), fText, L("</div>")),
        Seq("""{ "s": "#main", "data": { "path": "d", "values": { "c": {"source": "Contents"} } } }"""))
        .select(col("doc_id"), get_json_object(col("data_json"), "$.d.c").as("content"))),
    "e3_form_values" -> ((s, dir) =>
      runEngine(s, dir,
        Seq(L("<form><input type=\"text\" name=\"q\" value=\""), fLang, L("-"), fId,
          L("\" /><input type=\"radio\" name=\"r\" value=\"r1\" /><input type=\"radio\" name=\"r\" value=\"r2\" checked /><input type=\"checkbox\" name=\"cb\" value=\"1\" checked /><input type=\"checkbox\" name=\"cb\" value=\"2\" /><select name=\"sk\"><option value=\"o1\">a</option><option value=\"o2\" selected=\"selected\">b</option></select></form>")),
        Seq("""{ "s": "form", "data": { "path": "f" }, "sub": [
            { "s": "input[name=\"q\"]", "data": { "values": { "q": {"source": "Value"} } } },
            { "s": "input[name=\"r\"]", "data": { "values": { "r": {"source": "Value"} } } },
            { "s": "input[name=\"cb\"]", "data": { "values": { "cb": {"source": "Value"} } } },
            { "s": "select[name=\"sk\"] > option[selected=\"selected\"]", "data": { "values": { "sk": {"source": "Value"} } } }
        ] }"""))
        .select(col("doc_id"), col("data_json"))),
    "e4_e7_data_paths" -> ((s, dir) =>
      runEngine(s, dir, tplMain, Seq(rulesMain)).select(col("doc_id"), col("data_json"))),
    "e8_json_escape_quirk" -> ((s, dir) =>
      runEngine(s, dir,
        // attr u: contains \" (valid JSON escape -> raw quote in output);
        // attr v: single-quoted attr containing a RAW quote -> becomes "".
        // Both use single-quoted HTML attrs (backslash is not an escape in
        // HTML; a double quote would end a double-quoted attr value).
        Seq(L("<div id=\"q\" data-u='"), fLang, L("\\\"x' data-v='ra\"w'>t</div>")),
        Seq("""{ "s": "#q", "data": { "path": "d", "values": { "u": {"source": "Attribute", "name": "data-u"}, "v": {"source": "Attribute", "name": "data-v"} } } }"""))
        .select(col("doc_id"), col("data_json"))),
    "e11_error_channel" -> ((s, dir) =>
      runEngine(s, dir,
        Seq(L("<p id=\"a\">x</p><span id=\"b\">"), fLang, L("</span>")),
        Seq("""{ "s": "#a", "edit": { "attrs": { "k": { "op": "bogus" } } } }""",
            """{ "s": "#b", "data": { "values": { "v": {"source": "Value"} } } }"""))
        .select(col("doc_id"), col("errs"))),

    // E9: post-hoc value transform over the collected tree (asJson mode so
    // the one serialization is the transformed one); keys stay untouched
    "e9_data_transform" -> ((s, dir) =>
      runEngine(s, dir,
        Seq(L("<div id=\"m\">"), fText, L("</div>")),
        Seq("""{ "s": "#m", "data": { "path": "d", "values": { "c": {"source": "Contents"} } } }"""),
        EngineConfig(asJson = true,
          dataTransform = Some(_.toUpperCase(java.util.Locale.ROOT))))
        .select(col("doc_id"), col("html").as("json_out"))),

    // ---- engine: rule compilation (SURVEY §2.2) ----
    // P2: one init bundle = MULTIPLE rule trees compiled into one program,
    // applied in registration order; a broken tree records its error and
    // the rest still run (ShadowApiInit::init, shadow_api.rs:70-98)
    "p2_compile_bundle" -> ((s, dir) =>
      runEngine(s, dir,
        Seq(L("<p id=\"a\">"), fLang, L("</p><p id=\"b\">x</p>")),
        Seq("""{ "s": "#a", "edit": { "content": { "op": "upsert", "val": "A" } } }""",
            """{ "s": "", "hide": true }""",
            """{ "s": "#b", "edit": { "content": { "op": "upsert", "val": "B" } } }"""))
        .select(col("doc_id"), col("html"), col("errs"))),
    // P3: stable rule ids observable through the sibling-array cursor hop
    // (an array created by rule A must NOT absorb rule B's items;
    // shadow_data.rs:293-297 keys the go_up on the selector id)
    "p3_stable_ids" -> ((s, dir) =>
      runEngine(s, dir,
        Seq(L("<ul><li class=\"a\">"), fLang, L("</li><li class=\"a\">X"), fId,
          L("</li><li class=\"b\">"), fSource, L("</li></ul>")),
        Seq("""{ "s": "ul", "sub": [
            { "s": "li.a", "data": { "path": "as.", "values": { "v": {"source": "Contents"} } } },
            { "s": "li.b", "data": { "path": "bs.", "values": { "v": {"source": "Contents"} } } } ] }"""))
        .select(col("doc_id"), col("data_json"))),
    // P6: handler pruning — empty data.values disables the rule's handlers
    // entirely (hide is NOT applied) and records the error
    // (shadow_api.rs:230-278)
    "p6_handler_pruning" -> ((s, dir) =>
      runEngine(s, dir,
        Seq(L("<i class=\"h\">"), fLang, L("</i>")),
        Seq("""{ "s": ".h", "hide": true, "data": { "values": {} } }"""))
        .select(col("doc_id"), col("html"), col("errs"))),
    "p1_whitespace_quirk" -> ((s, dir) =>
      runEngine(s, dir,
        Seq(L("<p id=\"w\">x</p>")),
        // val contains a newline and a run of 4 spaces -> parse_str strips
        // newlines and halves double-spaces BEFORE parsing
        Seq("{ \"s\": \"#w\", \"edit\": { \"content\": { \"op\": \"upsert\", \"val\": \"A\nB    C\" } } }"))),
    "p4_selector_flattening" -> ((s, dir) =>
      runEngine(s, dir,
        Seq(L("<div id=\"o\"><section><b class=\"deep\">"), fSource, L("</b></section></div>")),
        // nesting = DESCENDANT (not child): b is 2 levels below #o
        Seq("""{ "s": "#o", "sub": [ { "s": "b.deep", "data": { "path": "d", "values": { "v": {"source": "Contents"} } } } ] }"""))
        .select(col("doc_id"), col("data_json"))),
    "p5_invalid_selector" -> ((s, dir) =>
      runEngine(s, dir,
        Seq(L("<p class=\"ok\">"), fLang, L("</p>")),
        Seq("""{ "s": "p[", "hide": true }""", """{ "s": ".ok", "data": { "path": "d", "values": { "v": {"source": "Contents"} } } }"""))
        .select(col("doc_id"), col("data_json"), col("errs"))),
    // p8: selector-grammar parity (SURVEY §2.5 table vs lol_html 1.2.1):
    // one selector exercising the full supported subset (child combinator,
    // id, attr =, :not, class) extracts; lol_html-unsupported grammar
    // (pseudo-class beyond :not, sibling combinator) errors through the
    // channel — with the p5 stack-pollution quirk applying to every rule
    // after the first invalid one
    "p8_selector_grammar" -> ((s, dir) =>
      runEngine(s, dir,
        Seq(L("<ul><li id=\"a\" data-k=\"v1\">A</li><li class=\"c2\">B-"), fLang,
          L("</li></ul><h1>H</h1><p>tail</p>")),
        Seq(
          """{ "s": "ul > li#a[data-k=v1]:not(.c2)", "data": { "path": "d", "values": { "first": {"source": "Contents"} } } }""",
          """{ "s": "li.c2", "data": { "path": "d", "values": { "second": {"source": "Contents"} } } }""",
          """{ "s": "li:nth-child(2)", "hide": true }""",
          """{ "s": "h1 + p", "hide": true }"""))
        .select(col("doc_id"), col("data_json"), col("errs"))),
    "p7_transform_strings" -> ((s, dir) => {
      val errs = new ArrayBuffer[String]
      val rule = RuleParser.parseStr(
        """{ "s": "#t", "edit": { "content": { "op": "upsert", "val": "VAL_TOKEN" } }, "append": ["<i>TOKEN</i>"] }""",
        errs).transformStrings(_.replace("TOKEN", "SWAPPED"))
      val program = RuleCompiler.compile(Seq(rule))
      ShadowSpark.processColumnar(
        htmlDocs(s, dir, Seq(L("<div id=\"t\">"), fText, L("</div>"))), program)
        .select(col("doc_id"), array_join(transform(col("spans"), _("text")), "").as("html"))
        .orderBy("doc_id")
    }),

    // ---- SQL surface: shadow_extract for spark.sql users (SURVEY §4.3) ----
    "sq1_sql_shadow_extract" -> ((s, dir) => {
      graft.spark.SqlFunctions.register(s)
      documents(s, dir).createOrReplaceTempView("graft_docs_sq1")
      s.sql(
        """SELECT doc_id, r.html AS html, r.data_json AS data_json FROM (
          |  SELECT doc_id, shadow_extract(
          |    array(named_struct(
          |      'kind', 'html',
          |      'text', concat('<a class="z" href="http://site/', source, '/',
          |                     cast(doc_id as string), '">', lang, '</a>'),
          |      'media_ref', '', 'offset', 0)),
          |    '{"s":"a.z","edit":{"attrs":{"rel":{"op":"upsert","val":"nofollow"}}},"data":{"path":"d","values":{"u":{"source":"Attribute","name":"href"},"t":{"source":"Contents"}}}}'
          |  ) AS r FROM graft_docs_sq1) ORDER BY doc_id""".stripMargin)
    }),

    // ---- relational / scale ops over TPC-H-ish tables ----
    "q1_agg" -> ((s, dir) =>
      lineitem(s, dir).groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_base_cents"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")),
    "q2_join_broadcast" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val ord = sourceTable(s, s"$dir/orders.parquet")
      val cust = sourceTable(s, s"$dir/customer.parquet")
      val nat = sourceTable(s, s"$dir/nation.parquet")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long")).as("revenue_cents"),
          count(lit(1)).as("n_lines"))
        .orderBy("n_name")
    }),
    "q3_topk_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
      lineitem(s, dir)
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 2)
        .select(col("l_orderkey"), col("rk"), col("l_linenumber"),
          round(col("l_extendedprice") * 100).cast("long").as("price_cents"))
        .orderBy("l_orderkey", "rk")
    }),
    "q5_sessionize" -> ((s, dir) =>
      graft.streaming.Sessionize.batch(events(s, dir), gapMinutes = 30)),
    // grouping-sets family: ROLLUP over the agg dimensions (subtotal rows
    // re-labeled 'ALL' so both engines emit identical non-null keys)
    "q6_rollup" -> ((s, dir) =>
      lineitem(s, dir).rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"), count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"))
        .orderBy("rf", "ls")),
    // set operations: EXCEPT / INTERSECT between two derived doc sets
    "q7_setops" -> ((s, dir) => {
      val d = documents(s, dir)
      val a = d.where(size(split(col("text"), " ")) > 40).select(col("doc_id"))
      val b = d.where(col("lang") === "en").select(col("doc_id"))
      a.except(b).withColumn("op", lit("except"))
        .unionByName(a.intersect(b).withColumn("op", lit("intersect")))
        .select(col("op"), col("doc_id"))
        .orderBy("op", "doc_id")
    }),
    "q4_events_window" -> ((s, dir) =>
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("value_cents"))
        .orderBy("h", "event_type")),

    // ---- dedup family ----
    "dd1_exact_dedup" -> ((s, dir) =>
      Dedup.exact(documents(s, dir))
        .agg(count(lit(1)).as("n_unique"), sum(col("n_copies")).as("n_docs"),
          min(col("keep_id")).as("min_keep"), max(col("keep_id")).as("max_keep"))),
    // dd2/dd3 run the 100 TB shape end-to-end: exact-dedup survivors first
    // (identical-doc clusters collapse before sketching), then anchor-pair
    // emission per bucket (O(k) rows per hot bucket, not O(k^2)); the
    // all-pairs variants remain spec-tested small-scale verification paths
    "dd2_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashCandidateAnchors(Dedup.exactSurvivors(documents(s, dir)))
        .orderBy("id1", "id2")),
    "dd3_simhash" -> ((s, dir) =>
      Dedup.simhashCandidateAnchors(Dedup.exactSurvivors(documents(s, dir)))
        .orderBy("id1", "id2")),
    "dd4_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardConsecutive(documents(s, dir)).orderBy("doc_id")),
    "dd5_embedding_neardup" -> ((s, dir) =>
      // sign-LSH bucket join + integer-exact cosine threshold
      // sqrt(4/25) = 0.4 (the corpus plants no >=0.9 near-dups; 0.4 yields
      // real pairs). The O(n^2) exact join (embeddingNearDupExact) is the
      // sampled recall baseline in SparkSpec, not a driver query.
      Dedup.embeddingNearDupLshQ(embeddings(s, dir), planes = 8, seed = 42L,
          num = 4L, den = 25L)
        .orderBy("id1", "id2")),

    // dd6: the dedup CLOSURE — connected components over the dd2 anchor
    // pairs via iterative min-label propagation (one keep-decision per
    // duplicate cluster, chains across buckets resolved)
    "dd6_dedup_components" -> ((s, dir) => {
      val surv = Dedup.exactSurvivors(documents(s, dir))
      val pairs = Dedup.minhashCandidateAnchors(surv)
      // node list via exactKeepIds: the SAME id set as surv.select(doc_id)
      // (lowest doc_id per identical text) from a hash-agg that shuffles
      // (hash, id) pairs instead of re-running the full-text window a
      // second time just to project ids (the window copy feeding `pairs`
      // is checkpointed inside connectedComponents)
      Dedup.connectedComponents(pairs,
          Dedup.exactKeepIds(documents(s, dir)).select(col("doc_id")))
        .orderBy("doc_id")
    }),

    // dd7: C4/CCNet-style line-level dedup. Every doc gets the same
    // synthesized 8-token boilerplate header (2 lines at w=4) prepended —
    // the shared site chrome real crawls carry — so only the first doc
    // corpus-wide retains those lines; natural aligned-line collisions
    // dedup too. The oracle replays line construction, first-occurrence
    // ranking, and ordered reassembly.
    "dd7_line_dedup" -> ((s, dir) =>
      Dedup.lineDedup(documents(s, dir).select(col("doc_id"),
        concat(lit("copyright acme corp inc all rights reserved "), col("text")).as("text")),
        w = 4)
        .orderBy("doc_id")),

    // dd8: benchmark decontamination — docs with doc_id % 97 == 0 play the
    // held-out eval set; every other doc sharing a 4-token shingle with it
    // is flagged with its leaked-shingle count (broadcast semi-join shape).
    "dd8_decontaminate" -> ((s, dir) => {
      val d = documents(s, dir)
      Dedup.decontaminate(
        d.where(pmod(col("doc_id"), lit(97)) =!= 0),
        d.where(pmod(col("doc_id"), lit(97)) === 0), w = 4)
        .orderBy("doc_id")
    }),

    // ---- similarity search ----
    "ann1_quantized_topk" -> ((s, dir) => {
      val q = firstEmbedding(s, dir)
      Ann.quantizedTopK(embeddings(s, dir), q, 10)
    }),
    "ann2_bruteforce_topk" -> ((s, dir) => {
      val q = firstEmbedding(s, dir)
      Ann.bruteForceTopK(embeddings(s, dir), q, 10).select(col("vec_id"))
    }),
    "ann3_lsh_topk" -> ((s, dir) => {
      val q = firstEmbedding(s, dir)
      Ann.lshTopK(embeddings(s, dir), q, 10).select(col("vec_id"))
    }),
    "ann4_ivf_topk" -> ((s, dir) => {
      val q = firstEmbedding(s, dir)
      Ann.ivfTopK(embeddings(s, dir), q, 10)
    }),

    // ---- text analysis ----
    // tx1: the testdata's `text` is English-ish for every lang label (real
    // raw-text discrimination is asserted in SparkSpec), so the oracled
    // query synthesizes genuinely per-language text from (lang, doc_id) —
    // 20 language-profile stopwords rotated by doc_id plus 10 neutral
    // fillers — and the engine's classifier must recover the label: the
    // oracle replays scoring + first-max tie-break over the same string,
    // so a non-discriminating classifier would hash-mismatch.
    "tx1_lang_id" -> ((s, dir) => {
      val vocabArr =
        when(col("lang") === "en", typedLit(Tx1Vocab("en")))
          .when(col("lang") === "de", typedLit(Tx1Vocab("de")))
          .when(col("lang") === "fr", typedLit(Tx1Vocab("fr")))
          .when(col("lang") === "es", typedLit(Tx1Vocab("es")))
          .otherwise(typedLit(Tx1Vocab("zh")))
      // token columns unrolled (i is compile-time per column) instead of a
      // transform(sequence(0,29), ...) lambda: higher-order functions are
      // CodegenFallback — the old lambda interpreted CASE + element_at with
      // boxing 30x per row; as 30 plain projection expressions the whole
      // row stays in whole-stage codegen (values identical: same pmod/cast
      // arithmetic per i, and concat_ws over columns == concat_ws over the
      // array it replaced)
      val tokens: Seq[Column] = (0 until 30).map { i =>
        if (i % 3 == 2)
          concat(lit("w"), pmod(col("doc_id") + lit(i), lit(7)).cast("string"))
        else
          element_at(vocabArr, (pmod(col("doc_id") + lit(i), lit(10)) + lit(1)).cast("int"))
      }
      val ml = documents(s, dir)
        .select(col("lang").as("lang_label"), concat_ws(" ", tokens: _*).as("t"))
      ml.select(col("lang_label"), graft.functions.TextFunctions.lang_id(col("t")).as("lang_pred"))
        .groupBy(col("lang_label"), col("lang_pred")).agg(count(lit(1)).as("n"))
        .orderBy("lang_label", "lang_pred")
    }),
    "tx2_quality" -> ((s, dir) => TextStats.quality(documents(s, dir)).orderBy("doc_id")),
    // Gopher-style quality gate (public-paper heuristics), integer-exact
    "tx5_gopher_quality" -> ((s, dir) =>
      TextStats.gopherQuality(documents(s, dir)).orderBy("doc_id")),
    // duplicate-shingle repetition signal (Gopher family)
    "tx6_repetition" -> ((s, dir) =>
      TextStats.repetition(documents(s, dir)).orderBy("doc_id")),
    "tx3_token_counts" -> ((s, dir) => TextStats.tokenCounts(documents(s, dir)).orderBy("doc_id")),
    "tx4_fingerprint" -> ((s, dir) => TextStats.fingerprints(documents(s, dir)).orderBy("doc_id")),
    // tx7: PII scrub over synthesized emails/phones (the raw corpus has
    // none, so the redaction must actually fire for the oracle to match;
    // doc_id % 3 / % 5 leave a mix of 0-2 PII hits per doc)
    "tx7_pii_scrub" -> ((s, dir) =>
      TextStats.piiScrub(documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) < 2,
            concat(lit(" contact agent"), col("doc_id").cast("string"),
              lit("@example.com for info"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit(" or call +1-555-"),
              lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))).otherwise(lit("")))
          .as("text")))
        .orderBy("doc_id")),
    // q8: semi-structured JSON projection over the events `props` column
    // (get_json_object stays inside whole-stage codegen; at scale this is
    // a scan-local parse + one partial-agg shuffle on event_type)
    "q8_props_json" -> ((s, dir) =>
      events(s, dir).select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))
        .orderBy("event_type")),
    // q9: as-of join in the union+window shape (Relational.asofJoin) — for
    // each click, the user's latest view at or before it; ONE shuffle on
    // user_id, no range join, no per-key pair blowup (PlanSpec pins the
    // join-free plan). Tie at equal ts -> highest view event_id.
    "q9_asof_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.pipeline.Relational.asofJoin(clicks, views, "user_id", "ts",
          struct(col("event_id").as("vid")))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof.vid").as("view_event_id"))
        .orderBy("event_id")
    }),
    // q10: bounded-delta range join in the bucket shape
    // (Relational.rangeCount) — views within +-10 min of each purchase of
    // the same user; equi-join on (user, time-bucket), never a cartesian
    "q10_range_join" -> ((s, dir) => {
      val ev = events(s, dir)
      graft.pipeline.Relational.rangeCount(
        ev.where(col("event_type") === "purchase"),
        ev.where(col("event_type") === "view"),
        "user_id", "ts", "event_id", 600L)
        .orderBy("event_id")
    }),

    // pipe3: the full user story in ONE plan — rule-engine extraction
    // (article text pulled out of the page into data_json), then the
    // curation ops run over the EXTRACTED text: get_json_object projection
    // -> exact-dedup survivors -> token-count quality gate -> per-language
    // mix. Pins that engine output composes with the relational layer and
    // that extraction is byte-faithful through the JSON round-trip.
    "pipe3_extract_quality_dedup" -> ((s, dir) => {
      val program = compile(Seq(
        """{ "s": "p.art", "data": { "path": "d", "values": { "t": {"source": "Contents"} } } }"""))
      val extracted = ShadowSpark.processColumnar(htmlDocs(s, dir,
        Seq(L("<div class=\"nav\"><a href=\"/\">home</a></div><p class=\"art\">"), fText, L("</p>"))),
        program)
        .select(col("doc_id").cast("long").as("doc_id"),
          get_json_object(col("data_json"), "$.d.t").as("text"))
      // the engine's rows carry no lang: join it back by doc_id
      val withText = extracted.join(documents(s, dir).select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), col("text"))
      Dedup.exactSurvivors(withText)
        .where(size(split(col("text"), " ")) >= 20)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("sum_tokens"))
        .orderBy("lang")
    }),
    // pipe4: extraction -> link layer in ONE plan — the rule engine
    // collects every <a href> into a trailing-dot array (E4 semantics),
    // the JSON projection explodes it, and each href resolves against
    // the page's base URL (RFC 3986 §5.2) down to canonical URL +
    // registered domain. The outlink-harvesting story end to end:
    // engine fidelity, JSON round-trip, posexplode, native resolution
    // expressions — every link individually oracled.
    "pipe4_extract_outlinks" -> ((s, dir) => {
      val program = compile(Seq(
        """{ "s": "a", "data": { "path": "links.", "values": { "h": {"source": "Attribute", "name": "href"} } } }"""))
      val a = (col("doc_id").cast("long") % 7).cast("string")
      val html = concat(lit("<html><body><a href=\"/root"), a, lit(".css\">x</a><p>n</p><a href=\"img"), a,
        lit(".png\">y</a><a href=\"https://Other.ORG/abs"), a, lit("\">z</a></body></html>"))
      val docs = documents(s, dir).select(col("doc_id").cast("string").as("doc_id"),
        htmlSpans(html).as("spans"))
      ShadowSpark.processColumnar(docs, program)
        .select(col("doc_id").cast("long").as("doc_id"),
          concat(lit("HTTPS://WWW.Site"), a, lit(".Example.COM/dir"), a, lit("/sub/page.html")).as("base"),
          from_json(col("data_json"), "links ARRAY<STRUCT<h: STRING>>",
            Map.empty[String, String]).as("d"))
        .select(col("doc_id"), col("base"), posexplode(col("d.links.h")))
        .select(col("doc_id"), col("pos").cast("int").as("link_idx"),
          col("col").as("href"),
          WebFunctions.resolve_url(col("base"), col("col")).as("resolved"))
        .withColumn("domain", WebFunctions.registered_domain(col("resolved")))
        .orderBy("doc_id", "link_idx")
    }),

    // q11: per-source distribution stats — EXACT interpolated percentiles
    // (both engines use the standard (n-1)*p linear interpolation). This
    // is the verification path; at 100 TB the serving path is
    // approx_percentile (t-digest, partial-aggregable) with this as its
    // accuracy oracle. Outputs quantized x10 so the replay is integer.
    "q11_quantiles" -> ((s, dir) =>
      documents(s, dir).groupBy(col("source"))
        .agg(expr("CAST(round(percentile(n_chars, 0.5) * 10) AS BIGINT)").as("p50_x10"),
          expr("CAST(round(percentile(n_chars, 0.9) * 10) AS BIGINT)").as("p90_x10"),
          count(lit(1)).as("n"))
        .orderBy("source")),
    // q11b: the approx_percentile SERVING path (what actually runs at
    // 100 TB — GK/t-digest sketches are partial-aggregable, so the map
    // side combines and only O(1/eps) summaries shuffle, vs exact
    // percentile which shuffles every value). With accuracy 10000 the
    // sketch's rank error eps*n < 0.5 at these group sizes, so it returns
    // EXACTLY the element at 1-indexed rank ceil(p*n) — which is what the
    // oracle replays (pinned empirically at sf0.01 AND sf0.1); at real
    // scale the same query answers within eps*n ranks, and q11's exact
    // path is its accuracy oracle (SparkSpec asserts the error bound).
    "q11b_quantiles_approx" -> ((s, dir) =>
      documents(s, dir).groupBy(col("source"))
        .agg(expr("approx_percentile(n_chars, 0.5, 10000)").as("ap50"),
          expr("approx_percentile(n_chars, 0.9, 10000)").as("ap90"),
          count(lit(1)).as("n"))
        .orderBy("source")),
    // cdc1: MERGE INTO semantics (Relational.mergeUpsert) — deletes for
    // doc_id%7=0, payload updates for %7=1, inserts under new keys for
    // %11=0, applied via union + per-key window-max (one shuffle, no join)
    "cdc1_merge_upsert" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
      val deletes = docs.where(pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id"), lit(1L).as("version"), lit("delete").as("op"),
          col("source"), col("n_chars"))
      val updates = docs.where(pmod(col("doc_id"), lit(7)) === 1)
        .select(col("doc_id"), lit(1L).as("version"), lit("upsert").as("op"),
          col("source"), (col("n_chars") + 1000L).as("n_chars"))
      // insert keys = -(doc_id + 1): base doc_ids are non-negative at every
      // sf, so the synthesized inserts can never collide with a base key
      // (a fixed +offset would collide once the corpus crossed the offset,
      // silently diverging from the oracle's UNION ALL replay)
      val inserts = docs.where(pmod(col("doc_id"), lit(11)) === 0)
        .select((-col("doc_id") - 1L).as("doc_id"), lit(1L).as("version"),
          lit("upsert").as("op"), col("source"), col("n_chars"))
      graft.pipeline.Relational.mergeUpsert(docs,
          deletes.unionByName(updates).unionByName(inserts), "doc_id")
        .orderBy("doc_id")
    }),

    // ---- web-corpus curation ----
    // web1: per-domain cap (anti-domination guard): top-2 docs per source
    // by (n_chars desc, doc_id)
    "web1_domain_cap" -> ((s, dir) =>
      graft.pipeline.WebCorpus.domainCap(documents(s, dir)).orderBy("source", "rank")),
    // web2: deterministic mixture sampling — keep-rate per source replayed
    // through the tx4 FNV fingerprint, so the sample is stable and
    // externally replayable; rate_permille = 100 + 50 * (source index % 10)
    "web2_mixture_sample" -> ((s, dir) =>
      graft.pipeline.WebCorpus.mixtureSample(documents(s, dir),
        _ => lit(100L) + lit(50L) *
          pmod(expr("CAST(substring(source, 4) AS INT)").cast("long"), lit(10L)))
        .orderBy("source")),
    // web3: GPT-style sequence packing (concat in doc order within each
    // source shard, cut every 512 tokens): per-doc first/last sequence ids
    "web3_seq_packing" -> ((s, dir) =>
      graft.pipeline.WebCorpus.seqPacking(documents(s, dir)).orderBy("doc_id")),

    // ---- multimodal plumbing ----
    // mm1: synth REAL containers (png/gif/jpeg by doc_id % 3, payload =
    // text bytes) -> parse the actual header bytes back (MediaCodec); the
    // oracle replays the synthesis formulas, so a byte-order or layout bug
    // in either the builder or the parser breaks the round-trip and
    // hash-mismatches
    "mm1_media_meta" -> ((s, dir) =>
      Multimodal.metaForOracle(Multimodal.mediaTable(documents(s, dir))).orderBy("doc_id")),
    // mm2: media-branch routing on container magic — all four branches
    // exercised across six formats: PDFs (doc_id % 6 = 0, real page-tree
    // /Count = 1 + n % 5) to the layout branch, JPEGs (% 6 = 1) and
    // WebPs (% 6 = 4, lossy VP8 dims) to the image dimension parse,
    // WAVs (% 6 = 2) and MP3s (% 6 = 5) to the AV branch, raw payload
    // bytes (% 6 = 3) to passthrough
    "mm2_pdf_layout_route" -> ((s, dir) => {
      val media = Multimodal.synthTable(documents(s, dir), spread = false) { (id, payload) =>
        val n = payload.length
        (id % 6) match {
          case 0 =>
            (s"media://$id.pdf", graft.pipeline.MediaCodec.buildPdf(1 + n % 5, payload))
          case 1 =>
            (s"media://$id.jpg",
              graft.pipeline.MediaCodec.buildJpeg(16 + n % 64, 16 + n % 48, payload))
          case 2 =>
            (s"media://$id.wav",
              graft.pipeline.MediaCodec.buildWav(8000 + (n % 8) * 1000, 1 + n % 2, payload))
          case 3 =>
            (s"media://$id.bin", payload)
          case 4 =>
            (s"media://$id.webp",
              graft.pipeline.MediaCodec.buildWebp(0, 16 + n % 64, 16 + n % 48, payload))
          case _ =>
            (s"media://$id.mp3",
              graft.pipeline.MediaCodec.buildMp3(mpeg1 = true, 9, 0, mono = false, payload))
        }
      }
      Multimodal.routeAndParse(media).orderBy("doc_id")
    }),

    // mm3: audio/video branch — WAV (RIFF fmt/data chunk walk: sample
    // rate, channels, PCM duration) and MP4 (ISO-BMFF box walk to
    // moov/mvhd — BOTH mvhd versions: v0 32-bit times for doc_id % 4 = 1,
    // v1 64-bit times for % 4 = 3 with a duration past 2^32 so the
    // 64-bit read is actually proven); synth -> parse through the real
    // byte layouts, oracle replays the synthesis arithmetic
    "mm3_av_meta" -> ((s, dir) => {
      val media = Multimodal.synthTable(documents(s, dir), spread = false) { (id, payload) =>
        val n = payload.length
        if (id % 2 == 0)
          (s"media://$id.wav",
            graft.pipeline.MediaCodec.buildWav(8000 + (n % 8) * 1000, 1 + n % 2, payload))
        else if (id % 4 == 1)
          (s"media://$id.mp4",
            graft.pipeline.MediaCodec.buildMp4(1000, (n % 100000).toLong, payload))
        else
          (s"media://$id.mp4",
            graft.pipeline.MediaCodec.buildMp4(1000, (1L << 32) + n, payload, version = 1))
      }
      Multimodal.avMeta(media).orderBy("doc_id")
    }),

    // mm4: DEEP pixel decode — REAL zlib inflate of the IDAT stream +
    // reversal of all five PNG scanline filters (row % 5 cycles them, so
    // every image exercises None/Sub/Up/Average/Paeth), reduced to exact
    // per-channel integer stats. The oracle replays the pixel FORMULA
    // (not the compressed bytes): any defect anywhere in deflate framing,
    // inflate, stride math, or filter reversal corrupts the sums and
    // hash-mismatches. One output row per (doc, channel).
    "mm4_pixel_stats" -> ((s, dir) => {
      val media = Multimodal.synthTable(documents(s, dir)) { (id, payload) =>
        val n = payload.length
        val w = 8 + n % 24; val h = 8 + n % 16
        (s"media://$id.png",
          graft.pipeline.MediaCodec.buildPngPixels(w, h,
            (r, c, ch) => ((id + r * 7L + c * 13L + ch * 101L) % 256).toInt))
      }
      Multimodal.pixelStats(media).orderBy("doc_id", "channel")
    }),

    // mm17: Adam7-INTERLACED PNG — the progressive layout real web PNGs
    // use: same pixel formula as mm4 but laid out in seven passes, each
    // independently filtered against pass-local neighbors. The oracle is
    // the same pixel-formula replay, so the pass geometry, per-pass
    // unfilter and scatter must reconstruct the exact image.
    "mm17_png_interlace_stats" -> ((s, dir) => {
      val media = Multimodal.synthTable(documents(s, dir)) { (id, payload) =>
        val n = payload.length
        val w = 8 + n % 24; val h = 8 + n % 16
        (s"media://$id.png",
          graft.pipeline.MediaCodec.buildPngPixelsInterlaced(w, h,
            (r, c, ch) => ((id + r * 7L + c * 13L + ch * 101L) % 256).toInt))
      }
      Multimodal.pixelStats(media).orderBy("doc_id", "channel")
    }),

    // mm5: DEEP PDF text extraction — REAL content-stream parse: every
    // page references a content stream holding `(header) Tj [(text) -250
    // (#END)] TJ` show ops; odd doc_ids get the stream FlateDecode-
    // compressed (real zlib, inflated back with the JVM inflater), even
    // ones raw. The extracted text must round-trip byte-exactly through
    // PDF string escaping (doc text may contain parens/backslashes) and
    // both show-op forms; the oracle replays the expected concatenation
    // from the documents table without touching PDF bytes at all.
    "mm5_pdf_text" -> ((s, dir) => {
      import java.nio.charset.StandardCharsets.UTF_8
      val media = Multimodal.synthTable(documents(s, dir)) { (id, payload) =>
        val n = payload.length
        (s"media://$id.pdf",
          graft.pipeline.MediaCodec.buildPdfWithText(1 + n % 5,
            s"DOC$id:".getBytes(UTF_8), payload, flate = id % 2 == 1))
      }
      Multimodal.pdfText(media).orderBy("doc_id")
    }),

    // mm6: DEEP GIF pixel decode — REAL LZW decompression of the indexed
    // pixel stream (variable-width codes, LSB-first packing, K[w]K case)
    // + palette mapping to per-channel stats. The oracle replays the
    // index and palette FORMULAS; any defect in the LZW coder pair,
    // sub-block framing, or palette lookup corrupts the sums. Conformance
    // of the LZW pair itself is cross-validated against the JDK's
    // javax.imageio GIF codec in MediaSpec (both directions).
    "mm6_gif_pixel_stats" -> ((s, dir) => {
      val media = Multimodal.synthTable(documents(s, dir)) { (id, payload) =>
        val n = payload.length
        val w = 8 + n % 24; val h = 8 + n % 16
        val palette = Array.tabulate(768) { j =>
          val i = j / 3
          (((j % 3) match {
            case 0 => i * 7 + 13
            case 1 => i * 11 + 29
            case _ => i * 13 + 37
          }) % 256).toByte
        }
        (s"media://$id.gif",
          graft.pipeline.MediaCodec.buildGifPixels(w, h, palette,
            (r, c) => ((id + r * 3L + c * 5L) % 256).toInt))
      }
      Multimodal.pixelStats(media).orderBy("doc_id", "channel")
    }),

    // mm7: DEEP JPEG decode — REAL baseline entropy decode: canonical
    // Huffman tables, DC prediction, byte destuffing, dequantize, IDCT.
    // The synth is DC-only (flat 8x8 blocks — the one case where every
    // conformant IDCT is bit-exact), so the oracle can replay pixels as
    // pure integer arithmetic; general AC streams are conformance-tested
    // against javax.imageio in MediaSpec. Q(0,0)=8 makes dequant/IDCT
    // the identity on the DC value: pixel = dc + 128 exactly.
    "mm7_jpeg_pixel_stats" -> ((s, dir) => {
      val media = Multimodal.synthTable(documents(s, dir)) { (id, payload) =>
        val n = payload.length
        val w = 8 + n % 24; val h = 8 + n % 16
        (s"media://$id.jpg",
          graft.pipeline.JpegCodec.buildJpegDcOnly(w, h,
            (br, bc) => ((id + br * 5L + bc * 11L) % 256).toInt - 128))
      }
      Multimodal.pixelStats(media).orderBy("doc_id", "channel")
    }),

    // mm9: DEEP 4:2:0 JPEG decode — the chroma-subsampled MCU shape real
    // crawl JPEGs use: 4 luma blocks + Cb + Cr per MCU, per-component DC
    // prediction, quarter-res chroma planes upsampled back to full res
    // (libjpeg-compatible triangle filter), YCbCr -> RGB. The synth
    // keeps chroma flat at 128 so every stage is SQL-replayable: pixel =
    // dcY + 128 on all three channels — but the Spark side must still
    // run the whole 4:2:0 path to produce it. General color content is
    // conformance-tested against javax.imageio in MediaSpec.
    "mm9_jpeg420_pixel_stats" -> ((s, dir) => {
      val media = Multimodal.synthTable(documents(s, dir)) { (id, payload) =>
        val n = payload.length
        val w = 8 + n % 24; val h = 8 + n % 16
        (s"media://$id.420.jpg",
          graft.pipeline.JpegCodec.buildJpegDcOnly420(w, h,
            (br, bc) => ((id + br * 5L + bc * 11L) % 256).toInt - 128))
      }
      Multimodal.pixelStats(media).orderBy("doc_id", "channel")
    }),

    // mm10: PROGRESSIVE JPEG decode — the SOF2 multi-scan layout real
    // crawl JPEGs increasingly use: an interleaved DC first scan at
    // Al=1, a DC refinement scan supplying bit 0 (successive
    // approximation — (v>>1<<1)|(v&1) == v in two's complement), then
    // one AC EOB-run scan per component over its non-interleaved block
    // grid. Same flat-chroma trick as mm9 keeps every stage
    // SQL-replayable: pixel = dcY + 128 on all three channels — but the
    // Spark side must accumulate coefficients across all five scans to
    // produce it. Real progressive content (spectral bands + AC
    // refinement) is conformance-tested against javax.imageio in
    // MediaSpec.
    "mm10_jpeg_progressive_stats" -> ((s, dir) => {
      val media = Multimodal.synthTable(documents(s, dir)) { (id, payload) =>
        val n = payload.length
        val w = 8 + n % 24; val h = 8 + n % 16
        (s"media://$id.p.jpg",
          graft.pipeline.JpegCodec.buildJpegDcOnly420Progressive(w, h,
            (br, bc) => ((id + br * 5L + bc * 11L) % 256).toInt - 128))
      }
      Multimodal.pixelStats(media).orderBy("doc_id", "channel")
    }),

    // mm8: PDF text-derived FEATURE branch — the pdf_layout branch's
    // real feature path: extract the content-stream text (mm5's decode:
    // /Length-bounded walk, FlateDecode for odd ids) and reduce it to
    // the integer primitives the 8-dim float feature derives from
    // (UTF-8 byte length, page count, token count = #spaces + 1, digit
    // count). The oracle replays the primitives from the documents
    // table without touching PDF bytes, so the whole decode+count path
    // must reproduce them exactly.
    "mm8_pdf_feature" -> ((s, dir) => {
      import java.nio.charset.StandardCharsets.UTF_8
      val media = Multimodal.synthTable(documents(s, dir)) { (id, payload) =>
        val n = payload.length
        (s"media://$id.pdf",
          graft.pipeline.MediaCodec.buildPdfWithText(1 + n % 5,
            s"DOC$id:".getBytes(UTF_8), payload, flate = id % 2 == 1))
      }
      Multimodal.pdfFeaturePrimitives(media).orderBy("doc_id")
    }),

    // mm11: PDF stream-filter CASCADE — the filter family real PDFs use
    // (ISO 32000-1 §7.4): FlateDecode, LZWDecode (TIFF-style MSB-first
    // variable-width codes with the EarlyChange quirk), RunLengthDecode,
    // ASCIIHexDecode and an [ASCII85Decode, FlateDecode] two-step
    // cascade, rotated per doc id so every decoder branch must run; the
    // oracle replays the expected text from the documents table without
    // touching PDF bytes or any codec.
    "mm11_pdf_filter_cascade" -> ((s, dir) => {
      import java.nio.charset.StandardCharsets.UTF_8
      val media = Multimodal.synthTable(documents(s, dir)) { (id, payload) =>
        val filters = (id % 6).toInt match {
          case 0 => Nil
          case 1 => Seq("FlateDecode")
          case 2 => Seq("LZWDecode")
          case 3 => Seq("RunLengthDecode")
          case 4 => Seq("ASCIIHexDecode")
          case _ => Seq("ASCII85Decode", "FlateDecode")
        }
        val n = payload.length
        (s"media://$id.f.pdf",
          graft.pipeline.MediaCodec.buildPdfWithTextFiltered(1 + n % 5,
            s"DOC$id:".getBytes(UTF_8), payload, filters))
      }
      Multimodal.pdfText(media).orderBy("doc_id")
    }),

    // mm12: PDF /DecodeParms PREDICTORS — TIFF horizontal differencing
    // and the PNG row filters applied under Flate/LZW (§7.4.4.4), the
    // parameter real xref/image/content streams actually carry; rotated
    // per doc id across PNG-predictor-over-Flate, PNG-over-LZW and
    // TIFF-2-over-Flate so both reversal paths and both host filters
    // run. The oracle replays the expected text from the documents
    // table without touching PDF bytes, any codec or any predictor.
    "mm12_pdf_predictor" -> ((s, dir) => {
      import java.nio.charset.StandardCharsets.UTF_8
      val media = Multimodal.synthTable(documents(s, dir)) { (id, payload) =>
        val (filters, predictor, columns) = (id % 3).toInt match {
          case 0 => (Seq("FlateDecode"), 15, 16 + (id % 17).toInt)
          case 1 => (Seq("LZWDecode"), 12, 24)
          case _ => (Seq("FlateDecode"), 2, 20)
        }
        val n = payload.length
        (s"media://$id.pr.pdf",
          graft.pipeline.MediaCodec.buildPdfWithTextFiltered(1 + n % 5,
            s"DOC$id:".getBytes(UTF_8), payload, filters, predictor, columns))
      }
      Multimodal.pdfText(media).orderBy("doc_id")
    }),

    // mm13: PDF RASTER branch — the images a PDF EMBEDS: /Subtype
    // /Image XObjects whose stream body is a real JPEG (/DCTDecode —
    // how PDFs overwhelmingly carry photographs), rotated per doc id
    // across baseline, 4:2:0 and progressive JPEG layouts, half of them
    // behind an ASCII85 transport filter, decoded end to end by the
    // in-house PDF walk + JPEG decoder. Same flat-block DC synthesis as
    // mm7/mm9/mm10, so the oracle replays pixels as pure integer
    // arithmetic without touching PDF or JPEG bytes.
    "mm13_pdf_image_stats" -> ((s, dir) => {
      val media = Multimodal.synthTable(documents(s, dir)) { (id, payload) =>
        val n = payload.length
        val w = 8 + n % 24; val h = 8 + n % 16
        val dc = (br: Int, bc: Int) => ((id + br * 5L + bc * 11L) % 256).toInt - 128
        val jpeg = (id % 3).toInt match {
          case 0 => graft.pipeline.JpegCodec.buildJpegDcOnly(w, h, dc)
          case 1 => graft.pipeline.JpegCodec.buildJpegDcOnly420(w, h, dc)
          case _ => graft.pipeline.JpegCodec.buildJpegDcOnly420Progressive(w, h, dc)
        }
        val transport = if (id % 2 == 0) Nil else Seq("ASCII85Decode")
        (s"media://$id.i.pdf",
          graft.pipeline.MediaCodec.buildPdfWithImages(Seq((jpeg, w, h)), transport))
      }
      Multimodal.pdfImageStats(media).orderBy("doc_id", "channel")
    }),

    // mm14: WebP — the format a third of crawl images actually are:
    // all three container variants rotated per doc id (lossy VP8
    // keyframe header with the 9D 01 2A start code and 14-bit LE dims,
    // lossless VP8L with LSB-packed dims, extended VP8X with 24-bit
    // canvas fields + an XMP payload chunk), parsed back through the
    // real RIFF chunk walk. Oracle replays dims + exact container
    // overhead from the synthesis formulas.
    "mm14_webp_meta" -> ((s, dir) => {
      val media = Multimodal.synthTable(documents(s, dir), spread = false) { (id, payload) =>
        val n = payload.length
        (s"media://$id.webp",
          graft.pipeline.MediaCodec.buildWebp((id % 3).toInt, 16 + n % 64,
            16 + n % 48, payload))
      }
      Multimodal.metaForOracle(media).orderBy("doc_id")
    }),

    // mm15: MP3 — crawl audio's dominant format: MPEG1 and MPEG2
    // Layer III frame headers (different bitrate/samplerate tables),
    // mono and stereo, half behind a real ID3v2.4 tag whose synchsafe
    // size the parser must honor to find the frame sync. Duration is
    // the CBR header estimate audio_bytes*8/bitrate — pure integer
    // arithmetic the oracle replays.
    "mm15_mp3_meta" -> ((s, dir) => {
      val media = Multimodal.synthTable(documents(s, dir), spread = false) { (id, payload) =>
        val n = payload.length
        val bytes = (id % 4).toInt match {
          case 0 => graft.pipeline.MediaCodec.buildMp3(mpeg1 = true, 9, 0,
            mono = false, payload)
          case 1 => graft.pipeline.MediaCodec.buildMp3(mpeg1 = true, 14, 2,
            mono = true, payload, id3Len = n % 100)
          case 2 => graft.pipeline.MediaCodec.buildMp3(mpeg1 = false, 8, 0,
            mono = false, payload)
          case _ => graft.pipeline.MediaCodec.buildMp3(mpeg1 = false, 14, 1,
            mono = true, payload, id3Len = 200 + n % 1000)
        }
        (s"media://$id.mp3", bytes)
      }
      Multimodal.avMeta(media).orderBy("doc_id")
    }),

    // mm16: EXIF orientation — the APP1/TIFF IFD0 walk every crawl
    // image pipeline needs before resize: orientations 1-8 rotated per
    // doc id, byte order alternating II/MM, every fifth JPEG bare (no
    // EXIF -> 0). Dims must still parse through the inserted APP1.
    "mm16_exif_orientation" -> ((s, dir) => {
      val media = Multimodal.synthTable(documents(s, dir), spread = false) { (id, payload) =>
        val n = payload.length
        val base = graft.pipeline.MediaCodec.buildJpeg(16 + n % 64, 16 + n % 48, payload)
        val bytes =
          if (id % 5 == 4) base
          else graft.pipeline.MediaCodec.withSegmentAfterSoi(base,
            graft.pipeline.MediaCodec.exifApp1(1 + (id % 8).toInt,
              bigEndian = id % 2 == 0))
        (s"media://$id.jpg", bytes)
      }
      Multimodal.exifMeta(media).orderBy("doc_id")
    }),

    // wa1: WARC ingestion — the crawl pipeline's front door: each doc
    // becomes a Common Crawl style .warc.gz (a warcinfo record + a
    // response record whose HTTP body is the doc text), one gzip member
    // per record with real CRC32/ISIZE trailers. The Spark side must
    // walk the members, verify integrity, parse WARC + HTTP and decode
    // the body; the oracle replays every field — including the exact
    // HTTP block length — by string arithmetic, never gunzipping.
    "wa1_warc_records" -> ((s, dir) => {
      val warcs = Multimodal.synthTable(documents(s, dir)) { (id, payload) =>
        val status = (id % 3).toInt match { case 0 => 200; case 1 => 301; case _ => 404 }
        val http = WarcCodec.buildHttpResponse(status,
          Seq("Content-Type" -> "text/html; charset=utf-8",
            "Content-Length" -> payload.length.toString),
          payload)
        val file = WarcCodec.buildWarcGz(Seq(
          WarcCodec.buildWarcRecord("warcinfo", Seq(),
            "software: graft\r\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)),
          WarcCodec.buildWarcRecord("response",
            Seq("WARC-Target-URI" -> s"http://example.com/$id"), http)))
        (s"warc://$id.warc.gz", file)
      }
      WebArchive.records(warcs)
        .select("doc_id", "rec_idx", "warc_type", "target_uri", "http_status",
          "mime", "charset", "charset_src", "content_length", "body_text")
        .orderBy("doc_id", "rec_idx")
    }),

    // wa2: charset sniffing — the decode step real crawl HTML needs
    // before any text op (a third of the web is not clean UTF-8):
    // five per-doc variants exercise the full precedence chain — header
    // charset (utf-8 and windows-1252 with C1-range bytes), meta-tag
    // prescan (iso-8859-1 label resolving to the cp1252 decoder), a
    // UTF-8 BOM overriding everything, and the default. Bodies are
    // formula-only so the oracle replays the decoded text exactly.
    "wa2_http_charset" -> ((s, dir) => {
      import java.nio.charset.StandardCharsets
      val warcs = Multimodal.synthTable(documents(s, dir)) { (id, _) =>
        val (ctype, body) = (id % 5).toInt match {
          case 0 => ("text/html; charset=utf-8",
            s"résumé π doc $id".getBytes(StandardCharsets.UTF_8))
          case 1 => ("text/html; charset=windows-1252",
            s"€ “déjà vu” — doc $id".getBytes(
              java.nio.charset.Charset.forName("windows-1252")))
          case 2 => ("text/html",
            s"<meta charset=iso-8859-1>ça va doc $id".getBytes(StandardCharsets.ISO_8859_1))
          case 3 => ("text/html",
            Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
              s"BOM doc $id".getBytes(StandardCharsets.UTF_8))
          case _ => ("text/html", s"plain doc $id".getBytes(StandardCharsets.UTF_8))
        }
        val http = WarcCodec.buildHttpResponse(200, Seq("Content-Type" -> ctype), body)
        val file = WarcCodec.buildWarcGz(Seq(WarcCodec.buildWarcRecord("response",
          Seq("WARC-Target-URI" -> s"http://example.com/$id"), http)))
        (s"warc://$id.warc.gz", file)
      }
      WebArchive.records(warcs)
        .select("doc_id", "charset", "charset_src", "mime", "body_text")
        .orderBy("doc_id")
    }),

    // tx8: HTML character-reference decoding — extracted crawl text is
    // full of &amp;/&#233;-style references that must resolve before
    // quality scoring or tokenization (the REWRITE engine passes them
    // through verbatim by design — this is the text-branch counterpart).
    // Named subset, decimal, hex incl. an astral code point, and the
    // unknown-reference passthrough, all replayed literally.
    "tx8_html_unescape" -> ((s, dir) => {
      documents(s, dir).select(col("doc_id"),
        WebFunctions.html_unescape(
          concat(lit("&lt;b&gt; caf&eacute; &#233; &#x1F600; doc "),
            col("doc_id").cast("string"),
            lit(" &amp;co &unknown; AT&T &copy;"))).as("decoded"))
        .orderBy("doc_id")
    }),

    // wa3: HTTP transfer/content decoding — what captured responses
    // actually look like on the wire: chunked framing, gzip and
    // zlib-deflate content codings, and both stacked (chunked outside,
    // gzip inside). The Spark side must de-chunk and decompress (CRC
    // verified) before the charset decode; the oracle replays the
    // plaintext by formula, never touching either coding. The meta
    // charset variant proves the sniff runs on DECODED bytes.
    "wa3_http_content_encoding" -> ((s, dir) => {
      import java.nio.charset.StandardCharsets
      val warcs = Multimodal.synthTable(documents(s, dir)) { (id, _) =>
        val k = (id % 5).toInt
        val text = k match {
          case 0 => s"plain doc $id"
          case 1 => s"chunked doc $id"
          case 2 => s"gzipped doc $id"
          case 3 => s"deflated doc $id"
          case _ => s"<meta charset=iso-8859-1>chunked+gzip doc $id"
        }
        val plain = text.getBytes(StandardCharsets.UTF_8)
        val (headers, body) = k match {
          case 0 => (Seq("Content-Type" -> "text/html; charset=utf-8"), plain)
          case 1 => (Seq("Content-Type" -> "text/html; charset=utf-8",
            "Transfer-Encoding" -> "chunked"),
            WarcCodec.buildChunked(plain, 5))
          case 2 => (Seq("Content-Type" -> "text/html; charset=utf-8",
            "Content-Encoding" -> "gzip"),
            WarcCodec.gzipMember(plain))
          case 3 => (Seq("Content-Type" -> "text/html; charset=utf-8",
            "Content-Encoding" -> "deflate"),
            WarcCodec.zlibDeflate(plain))
          case _ => (Seq("Content-Type" -> "text/html",
            "Transfer-Encoding" -> "chunked", "Content-Encoding" -> "gzip"),
            WarcCodec.buildChunked(WarcCodec.gzipMember(plain), 7))
        }
        val http = WarcCodec.buildHttpResponse(200, headers, body)
        val file = WarcCodec.buildWarcGz(Seq(WarcCodec.buildWarcRecord("response",
          Seq("WARC-Target-URI" -> s"http://example.com/$id"), http)))
        (s"warc://$id.warc.gz", file)
      }
      WebArchive.records(warcs)
        .select("doc_id", "charset", "charset_src", "body_text")
        .orderBy("doc_id")
    }),

    // pr1: link-graph PageRank — the centrality signal web-corpus
    // curation mixes into quality weights, in its oracle-able form:
    // FIXED-POINT integer arithmetic (ranks in 2^-40 units, truncating
    // divisions, damping as the exact rational 85/100), so the result
    // is bit-identical under any partitioning and the SQL oracle can
    // replay all three power iterations. Graph: 4 formula outlinks per
    // doc over the contiguous doc_id space.
    "pr1_pagerank" -> ((s, dir) => {
      import s.implicits._
      val docs = documents(s, dir)
      val nodes = docs.select(col("doc_id").as("node"))
      val nn = nodes.count()
      val edges = docs.select(col("doc_id")).as[Long].flatMap { id =>
        Seq((id, (id * 7) % nn), (id, (id * 13 + 1) % nn),
          (id, (id * 31 + 2) % nn), (id, (id * 101 + 3) % nn))
      }.toDF("src", "dst")
      graft.pipeline.LinkGraph.pagerankFixedPoint(edges, nodes, iters = 3)
        .orderBy("node")
    }),

    // lk1: outlink resolution — every href shape a real page carries
    // (absolute, protocol-relative, root-relative, path-relative with
    // dot segments, query-only, fragment-only) resolved against a messy
    // base per RFC 3986 §5.2 and canonicalized, as the native codegen
    // expression. The oracle replays the absolute canonical URL per
    // variant.
    "lk1_outlink_resolve" -> ((s, dir) => {
      import s.implicits._
      val rows = documents(s, dir).select(col("doc_id")).as[Long].map { id =>
        val a = (id % 7).toInt
        val base = s"HTTPS://WWW.Site$a.Example.COM/dir$a/sub/page.html?x=$id"
        val ref = (id % 6).toInt match {
          case 0 => s"https://Other.ORG/abs$a"
          case 1 => s"//cdn.example.com/c$a.js"
          case 2 => s"/root$a.css"
          case 3 => s"img$a.png"
          case 4 => s"../up$a/f.html"
          case _ => "?y=2"
        }
        (id, base, ref)
      }.toDF("doc_id", "base", "ref")
      rows.select(col("doc_id"), col("ref"),
        WebFunctions.resolve_url(col("base"), col("ref")).as("resolved"))
        .orderBy("doc_id")
    }),

    // sm1: sitemap parsing — the crawl-frontier source that pairs with
    // robots.txt: both <urlset> and <sitemapindex> documents, with
    // loc/lastmod/priority fields, ampersand references in locs
    // resolved, and the protocol's 0.5 priority default. One row per
    // entry, entry counts varying per doc.
    "sm1_sitemap" -> ((s, dir) => {
      import s.implicits._
      val xmls = documents(s, dir).select(col("doc_id")).as[Long].map { id =>
        val n = 1 + (id % 3).toInt
        val xml =
          if (id % 2 == 0)
            "<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
              "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
              (0 until n).map(j =>
                s"<url><loc>https://example.com/p$j?a=1&amp;b=$id</loc>" +
                  s"<lastmod>2026-0${1 + j}-01</lastmod>" +
                  s"<priority>0.${j + 1}</priority></url>").mkString +
              "</urlset>"
          else
            "<?xml version=\"1.0\"?>" +
              "<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
              (0 until n).map(j =>
                s"<sitemap><loc>https://example.com/sitemap$j.xml.gz</loc>" +
                  s"<lastmod>2026-01-0${1 + j}</lastmod></sitemap>").mkString +
              "</sitemapindex>"
        (id, xml)
      }.toDF("doc_id", "xml")
      WebArchive.sitemaps(xmls).orderBy("doc_id", "entry_idx")
    }),

    // url1: URL canonicalization — the key every crawl-curation
    // group-by (domain caps, frontier dedup, per-site mixtures) hangs
    // off. Messy URLs synthesized per doc (scheme case, trailing host
    // dot, default vs explicit ports, dot segments, mixed-case percent
    // escapes, empty queries, fragments) canonicalize through the
    // native codegen expression; the oracle replays the canonical
    // string and the eTLD+1 by CASE arithmetic.
    "url1_canonicalize" -> ((s, dir) => {
      import s.implicits._
      val urls = documents(s, dir).select(col("doc_id")).as[Long].map { id =>
        val a = (id % 7).toInt
        val scheme = if (id % 2 == 0) "HTTP" else "https"
        val host = (id % 3).toInt match {
          case 0 => s"WWW.Blog$a.Example.COM" + (if (id % 6 == 0) "." else "")
          case 1 => s"CDN.Assets$a.Shop.CO.UK"
          case _ => s"User$a.GitHub.IO"
        }
        val port = (id % 4).toInt match {
          case 0 => if (id % 2 == 0) ":80" else ":443" // explicit default -> stripped
          case 1 => ":8080"
          case _ => ""
        }
        val query = (id % 5).toInt match {
          case 1 => "?b=2&a=%31"
          case 2 => "?x=%2f"
          case 3 => "?"
          case 4 => s"?id=$id"
          case _ => ""
        }
        val url = s"$scheme://$host$port/p$a/x/../%41sset%2f/q$a.html$query#sec"
        (id, url)
      }.toDF("doc_id", "url")
      urls.select(col("doc_id"),
        WebFunctions.canonical_url(col("url")).as("canonical_url"),
        WebFunctions.registered_domain(col("url")).as("registered_domain"))
        .orderBy("doc_id")
    }),

    // rb1: robots.txt evaluation (RFC 9309) — the fetch-side gate of a
    // crawl: per-doc robots files exercise longest-match precedence,
    // allow-over-disallow ties, * wildcards with the $ end anchor, and
    // named-agent vs * group selection. The decision AND the matched
    // rule pattern are both oracled.
    "rb1_robots" -> ((s, dir) => {
      import s.implicits._
      val rows = documents(s, dir).select(col("doc_id")).as[Long].map { id =>
        val a = (id % 4).toInt
        val robots =
          s"""# synthetic robots
             |User-agent: graftbot
             |Disallow: /private$a/
             |Allow: /private$a/public/
             |Disallow: /*.pdf$$
             |
             |User-agent: *
             |Disallow: /
             |""".stripMargin
        val agent = if (id % 2 == 0) "graftbot" else "otherbot"
        val path = (id % 5).toInt match {
          case 0 => s"/private$a/secret.html"
          case 1 => s"/private$a/public/x.html"
          case 2 => s"/docs/file$a.pdf"
          case 3 => s"/docs/file$a.pdfx"
          case _ => s"/open/page$a.html"
        }
        (id, robots, agent, path)
      }.toDF("doc_id", "robots", "agent", "path")
      rows.select(col("doc_id"), col("agent"), col("path"),
        WebFunctions.robots_allowed(col("robots"), col("agent"), col("path")).as("allowed"),
        WebFunctions.robots_rule(col("robots"), col("agent"), col("path")).as("matched_rule"))
        .orderBy("doc_id")
    }),

    // ---- boilerplate main-content extraction (north-star branch) ----
    "bp1_main_content" -> ((s, dir) => {
      import s.implicits._
      val input = documents(s, dir)
        .select(col("doc_id").cast("string").as("doc_id"),
          tplCol(Seq(
            L("<html><body><div class=\"nav\"><a href=\"/a\">home</a> <a href=\"/b\">about</a></div><p>"),
            fText,
            L("</p><div class=\"footer\"><a href=\"/c\">contact us now</a></div></body></html>"))).as("h"))
        .as[(String, String)]
      input.mapPartitions { it =>
        val pool = new graft.html.NamePool
        it.map { case (id, h) =>
          (id, graft.engine.Boilerplate.mainContentSpans(h, pool).map(_.text).mkString("\n"))
        }
      }.toDF("doc_id", "content").orderBy("doc_id")
    }),
    // composite training-data pipeline: quality gate -> exact dedup ->
    // language mix of the survivors; every stage reuses an operator that is
    // independently oracled. Integer-only predicates (n_punct*10 <= n_chars)
    // so the external replay is exact. Scale: quality/langId live in the
    // scan projection (no shuffle); dedup is one hash-agg shuffle on
    // xxhash64(text); the final agg is a 5-group hash-agg.
    "pipe1_quality_dedup_langmix" -> ((s, dir) => {
      val docs = documents(s, dir)
      val q = TextStats.quality(docs).select(col("doc_id"), col("n_chars"),
        col("n_tokens"), col("n_punct"))
      val keep = Dedup.exactKeepIds(docs).select(col("doc_id"))
      val lang = TextStats.langId(docs).select(col("doc_id"), col("lang_pred"))
      keep.join(q, "doc_id").join(lang, "doc_id")
        .where(col("n_tokens") >= 20 && col("n_punct") * 10 <= col("n_chars"))
        .groupBy(col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("lang_pred")
    }),

    // bp2: 4-block page (nav / article / teaser / footer) built from the
    // documents table so the NumWordsRules decisions — which depend on the
    // (prev, curr, next) block features — are DuckDB-replayable per doc:
    // the article is content iff its word count > 40 (prev is a pure-link
    // nav), the teaser iff the article has > 4 words. Corpus-shaped docs
    // stay covered by BoilerplateSpec.
    // pipe2: the COMPOSED dedup pipeline — exact survivors -> minhash
    // anchor pairs -> connected components -> keep list summary (every
    // stage independently oracled; this pins the composition)
    "pipe2_dedup_pipeline" -> ((s, dir) => {
      val surv = Dedup.exactSurvivors(documents(s, dir))
      // node list via exactKeepIds — same id set, hash-agg instead of a
      // second full-text window (see dd6)
      val comp = Dedup.connectedComponents(
        Dedup.minhashCandidateAnchors(surv),
        Dedup.exactKeepIds(documents(s, dir)).select(col("doc_id")))
      comp.agg(
        count(lit(1)).as("n_surv"),
        sum(when(col("doc_id") === col("component"), 1L).otherwise(0L)).as("n_kept"),
        countDistinct(col("component")).as("n_components"))
    }),

    "bp2_main_content_blocks" -> ((s, dir) => {
      import s.implicits._
      val input = documents(s, dir)
        .select(col("doc_id"), tplCol(Seq(
          L("<html><body><div class=\"nav\"><a href=\"/\">home</a> <a href=\"/a\">about</a> <a href=\"/b\">archive pages</a></div><p>"),
          fText,
          L("</p><p>"), fLang, L(" snippet about "), fSource,
          L("</p><div class=\"footer\"><a href=\"/c\">contact us</a></div></body></html>"))).as("h"))
        .as[(Long, String)]
      input.mapPartitions { it =>
        val pool = new graft.html.NamePool
        it.map { case (id, h) =>
          val spans = graft.engine.Boilerplate.mainContentSpans(h, pool)
          (id, spans.length, spans.map(_.text.length.toLong).sum)
        }
      }.toDF("doc_id", "n_content_blocks", "content_chars").orderBy("doc_id")
    })
  )

  /** tx1's per-language vocab = the public stopword profiles the classifier
    * scores against (graft.functions.Hashing.profiles). */
  private val Tx1Vocab: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "de", "un", "une", "est", "dans", "que"),
    "es" -> Seq("el", "la", "los", "y", "de", "un", "una", "es", "en", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不", "人", "这"))

  private def sqlList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString("[", ", ", "]")
  private def sqlIn(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString("(", ", ", ")")

  /** DuckDB s_en..s_zh score columns for a text expression (replays
    * Hashing.langId: token hits; zh additionally +2 per profile char
    * present as a substring). */
  private def sqlLangScores(t: String): String = {
    val tok = (l: String) =>
      s"len(list_filter(string_split($t,' '), x -> x IN ${sqlIn(Tx1Vocab(l))})) "
    Seq("en", "de", "fr", "es").map(l => tok(l) + s"AS s_$l").mkString(", ") + ", " +
      tok("zh") +
      Tx1Vocab("zh").map(c => s"+ 2*(CASE WHEN contains($t,'$c') THEN 1 ELSE 0 END)").mkString(" ") +
      " AS s_zh"
  }

  /** first-max in (en,de,fr,es,zh) order, as in Hashing.langId. */
  private val sqlLangPredCase: String =
    "CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en' " +
      "WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de' " +
      "WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr' " +
      "WHEN s_es >= s_zh THEN 'es' ELSE 'zh' END"

  private def firstEmbedding(s: SparkSession, dir: String): Array[Float] =
    embeddings(s, dir).where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray

  // ------------------------------------------------------------- oracle SQL

  def oracleSql: Map[String, String] = Map(
    "s1_full_rewrite" -> oracleFor(tplMainExpectedHtml, tplMainExpectedJson),
    "s2_chunk_invariance" -> oracleFor(tplMainExpectedHtml, tplMainExpectedJson),
    "s6_as_json" ->
      s"SELECT CAST(doc_id AS VARCHAR) AS doc_id, ${tplSql(tplMainExpectedJson)} AS json_out FROM documents ORDER BY 1",
    "s7_s8_data_formatter" ->
      s"SELECT CAST(doc_id AS VARCHAR) AS doc_id, ${tplSql(tplMainExpectedJson)} AS data_json FROM documents ORDER BY 1",
    // tplMain output spans = [html-before-script, data span, "</body></html>"]
    "s9_spans_to_rows" ->
      (s"SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(2 AS BIGINT) AS n_html, CAST(1 AS BIGINT) AS n_data, " +
        s"CAST(0 AS BIGINT) AS n_media, CAST(length(${tplSql(tplMainExpectedHtml)}) AS BIGINT) AS total_chars " +
        "FROM documents ORDER BY 1"),

    "m1_m4_injections" -> oracleFor(
      Seq(L("<div id=\"w\"><i>B1</i><i>B2</i><div id=\"x\"><i>P2</i><i>P1</i>"), fSource,
        L("<i>A1</i><i>A2</i></div><i>F2</i><i>F1</i></div>")),
      Seq(L("{}"))),
    "m5_hide_quirk" -> oracleFor(
      Seq(L("<p><b class=\"h\" style=\"color:red\">"), fLang,
        L("</b><i class=\"h\" style=\"display: none\">"), fSource, L("</i></p>")),
      Seq(L("{}"))),
    "m6_delete_extract" -> oracleFor(
      Seq(L("<p>"), fLang, L("</p>")),
      Seq(L("{\"gone\":[{\"c\":\""), fText, L("\"}]}"))),
    "m7_m8_attr_edit" -> oracleFor(
      Seq(L("<a id=\"l\" href=\"h/"), fId, L("\" target=\"_blank\">"), fSource, L("</a>")),
      Seq(L("{}"))),
    "m9_x1_match_replace_attr" -> oracleFor(
      Seq(L("<meta name=\"m\" content=\"just "), fLang, L("\"><p>ok</p>")),
      Seq(L("{}"))),
    "m10_subtree_upsert" -> oracleFor(
      Seq(L("<b id=\"t\">fresh &lt;x&gt;</b>")),
      Seq(L("{}"))),
    "m11_content_delete" -> oracleFor(
      Seq(L("<p id=\"d\"></p><p id=\"k\">"), fLang, L("</p>")),
      Seq(L("{}"))),
    "m12_text_coalescing" -> oracleFor(
      Seq(L("<p id=\"c\">["), fText, L("]</p>")),
      Seq(L("{}"))),

    "e1_extract_attribute" ->
      "SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'http://site/' || source || '/' || CAST(doc_id AS VARCHAR) AS url FROM documents ORDER BY 1",
    "e2_extract_contents" ->
      "SELECT CAST(doc_id AS VARCHAR) AS doc_id, text AS content FROM documents ORDER BY 1",
    "e3_form_values" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, '{\"f\":{\"q\":\"' || lang || '-' || CAST(doc_id AS VARCHAR) || " +
        "'\",\"r\":\"r2\",\"cb\":[\"1\"],\"sk\":\"o2\"}}' AS data_json FROM documents ORDER BY 1"),
    "e4_e7_data_paths" ->
      s"SELECT CAST(doc_id AS VARCHAR) AS doc_id, ${tplSql(tplMainExpectedJson)} AS data_json FROM documents ORDER BY 1",
    "e8_json_escape_quirk" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, '{\"d\":{\"u\":\"' || lang || '\"x\",\"v\":\"\"}}' AS data_json " +
        "FROM documents ORDER BY 1"),
    "e11_error_channel" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'Invalid operation (edit.attrs.k): bogus. Allowed values : " +
        "delete/upsert/match_replace|Unimplemented input: ''span'' (TODO)' AS errs FROM documents ORDER BY 1"),

    "e9_data_transform" ->
      "SELECT CAST(doc_id AS VARCHAR) AS doc_id, '{\"d\":{\"c\":\"' || upper(text) || '\"}}' AS json_out FROM documents ORDER BY 1",

    // "A\nB    C" -> newlines stripped -> "AB    C" -> one "  "->" " pass
    // halves the 4-space run -> "AB  C"
    "p1_whitespace_quirk" -> oracleFor(
      Seq(L("<p id=\"w\">AB  C</p>")), Seq(L("{}"))),
    "p2_compile_bundle" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, '<p id=\"a\">A</p><p id=\"b\">B</p>' AS html, " +
        "'Empty selector' AS errs FROM documents ORDER BY 1"),
    "p3_stable_ids" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, " +
        "'{\"as\":[{\"v\":\"' || lang || '\"},{\"v\":\"X' || CAST(doc_id AS VARCHAR) || '\"}],\"bs\":[{\"v\":\"' || source || '\"}]}' AS data_json " +
        "FROM documents ORDER BY 1"),
    "p6_handler_pruning" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, '<i class=\"h\">' || lang || '</i>' AS html, " +
        "'Invalid def : ''data.values'' is not an object' AS errs FROM documents ORDER BY 1"),
    "p4_selector_flattening" ->
      "SELECT CAST(doc_id AS VARCHAR) AS doc_id, '{\"d\":{\"v\":\"' || source || '\"}}' AS data_json FROM documents ORDER BY 1",
    // Reference quirk kept: the invalid selector "p[" is NOT popped off the
    // selector stack, so the FOLLOWING tree's selector gets the bad prefix
    // ("p[ .ok") and dies too -> no extraction at all, two errors.
    "p5_invalid_selector" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, '{}' AS data_json, " +
        "'Selector p[ is invalid : expected identifier at position 2 in ''p[''|" +
        "Selector p[ .ok is invalid : expected identifier at position 3 in ''p[ .ok''' AS errs " +
        "FROM documents ORDER BY 1"),
    "p7_transform_strings" ->
      "SELECT CAST(doc_id AS VARCHAR) AS doc_id, '<div id=\"t\">VAL_SWAPPED<i>SWAPPED</i></div>' AS html FROM documents ORDER BY 1",
    "p8_selector_grammar" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, " +
        "'{\"d\":{\"first\":\"A\",\"second\":\"B-' || lang || '\"}}' AS data_json, " +
        "'Selector li:nth-child(2) is invalid : unsupported pseudo-class :nth-child in ''li:nth-child(2)''|" +
        "Selector li:nth-child(2) h1 + p is invalid : unsupported pseudo-class :nth-child in ''li:nth-child(2) h1 + p''' AS errs " +
        "FROM documents ORDER BY 1"),

    // shadow_extract via SQL: rewrite adds rel="nofollow" (new attrs append
    // at tag end), extraction sees the post-edit doc; no body -> no
    // injection span, html = the rewritten anchor alone
    "sq1_sql_shadow_extract" ->
      ("SELECT doc_id, '<a class=\"z\" href=\"http://site/' || source || '/' || CAST(doc_id AS VARCHAR) || " +
        "'\" rel=\"nofollow\">' || lang || '</a>' AS html, " +
        "'{\"d\":{\"u\":\"http://site/' || source || '/' || CAST(doc_id AS VARCHAR) || '\",\"t\":\"' || lang || '\"}}' AS data_json " +
        "FROM documents ORDER BY doc_id"),

    "q1_agg" ->
      ("SELECT l_returnflag, l_linestatus, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, " +
        "CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents, COUNT(*) AS n " +
        "FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"),
    "q2_join_broadcast" ->
      ("SELECT n_name, CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents, " +
        "COUNT(*) AS n_lines FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY 1 ORDER BY 1"),
    "q3_topk_window" ->
      ("SELECT l_orderkey, rk, l_linenumber, price_cents FROM (" +
        "SELECT l_orderkey, l_linenumber, CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents, " +
        "row_number() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_linenumber) AS rk " +
        "FROM lineitem) WHERE rk <= 2 ORDER BY l_orderkey, rk"),
    "q5_sessionize" ->
      ("WITH flagged AS (SELECT user_id, event_id, ts, value, " +
        "CASE WHEN lag(ts) OVER w IS NULL OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "sess AS (SELECT user_id, ts, value, CAST(SUM(new_session) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM flagged) " +
        "SELECT user_id, session_idx, MIN(ts) AS start_ts, MAX(ts) AS end_ts, COUNT(*) AS n_events, " +
        "CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents " +
        "FROM sess GROUP BY 1, 2 ORDER BY 1, 2"),
    "q4_events_window" ->
      ("SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n, " +
        "CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    "q6_rollup" ->
      ("SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls, " +
        "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, COUNT(*) AS n " +
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) ORDER BY 1, 2"),
    "q7_setops" ->
      ("WITH a AS (SELECT doc_id FROM documents WHERE len(string_split(text, ' ')) > 40), " +
        "b AS (SELECT doc_id FROM documents WHERE lang = 'en') " +
        "SELECT 'except' AS op, doc_id FROM (SELECT doc_id FROM a EXCEPT SELECT doc_id FROM b) " +
        "UNION ALL " +
        "SELECT 'intersect' AS op, doc_id FROM (SELECT doc_id FROM a INTERSECT SELECT doc_id FROM b) " +
        "ORDER BY 1, 2"),
    "dd6_dedup_components" -> OracleSql.dd6ConnectedComponents,
    // shingle construction matches dd4's oracle (w[i:i+2] over range)
    "tx6_repetition" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents) " +
        "SELECT doc_id, " +
        "CAST(CASE WHEN len(w) >= 3 THEN len(w) - 2 ELSE 0 END AS INT) AS n_shingles, " +
        "CAST(CASE WHEN len(w) >= 3 THEN len(list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)])) ELSE 0 END AS INT) AS n_distinct, " +
        "CAST(CASE WHEN len(w) >= 3 THEN len(w) - 2 - len(list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)])) ELSE 0 END AS INT) AS n_dup " +
        "FROM t ORDER BY doc_id"),
    "pipe2_dedup_pipeline" -> OracleSql.pipe2DedupPipeline,
    // Gopher quality-gate replay: pure integer predicates over counts
    "tx5_gopher_quality" ->
      ("SELECT doc_id, " +
        "CAST(CASE WHEN w >= 50 AND w <= 100000 THEN 1 ELSE 0 END AS INT) AS pass_len, " +
        "CAST(CASE WHEN wc >= w*3 AND wc <= w*10 THEN 1 ELSE 0 END AS INT) AS pass_wordlen, " +
        "CAST(CASE WHEN np*10 <= nc THEN 1 ELSE 0 END AS INT) AS pass_symbol, " +
        "CAST(CASE WHEN sh >= 2 THEN 1 ELSE 0 END AS INT) AS pass_stop, " +
        "CAST((CASE WHEN w >= 50 AND w <= 100000 THEN 1 ELSE 0 END) * " +
        "(CASE WHEN wc >= w*3 AND wc <= w*10 THEN 1 ELSE 0 END) * " +
        "(CASE WHEN np*10 <= nc THEN 1 ELSE 0 END) * " +
        "(CASE WHEN sh >= 2 THEN 1 ELSE 0 END) AS INT) AS keep " +
        "FROM (SELECT doc_id, len(string_split(text, ' ')) AS w, " +
        "length(text) - len(string_split(text, ' ')) + 1 AS wc, length(text) AS nc, " +
        "length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS np, " +
        "len(list_filter(string_split(text, ' '), t -> t IN ('the','and','of','to','in','is','that','it','was','for'))) AS sh " +
        "FROM documents) ORDER BY doc_id"),

    // line construction, first-occurrence rank, and ordered reassembly all
    // replayed (boilerplate header prepended exactly as the Spark query)
    "dd7_line_dedup" ->
      ("WITH t AS (SELECT doc_id, string_split('copyright acme corp inc all rights reserved ' || text, ' ') AS tk FROM documents), " +
        "l AS (SELECT doc_id, i AS line_idx, array_to_string(tk[i*4+1:i*4+4], ' ') AS line " +
        "FROM t, unnest(generate_series(0, CAST(ceil(len(tk)/4.0) AS INT) - 1)) AS g(i)), " +
        "m AS (SELECT doc_id, line_idx, line, row_number() OVER (PARTITION BY line ORDER BY doc_id, line_idx) AS rn FROM l) " +
        "SELECT doc_id, CAST(count(*) AS INT) AS n_lines, " +
        "CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept, " +
        "coalesce(string_agg(CASE WHEN rn = 1 THEN line END, ' ' ORDER BY line_idx), '') AS kept_text " +
        "FROM m GROUP BY doc_id ORDER BY doc_id"),
    "dd8_decontaminate" ->
      ("WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(t[i:i+3], ' ') FOR i IN range(1, len(t) - 2)])) AS s " +
        "FROM tk WHERE len(t) >= 4), " +
        "bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0) " +
        "SELECT sh.doc_id, count(*) AS n_contaminated FROM sh JOIN bench USING (s) " +
        "WHERE sh.doc_id % 97 != 0 GROUP BY 1 ORDER BY 1"),
    // same portable regex subset evaluated by RE2 instead of java.util.regex
    "tx7_pii_scrub" ->
      ("WITH p AS (SELECT doc_id, text || " +
        "CASE WHEN doc_id % 3 < 2 THEN ' contact agent' || CAST(doc_id AS VARCHAR) || '@example.com for info' ELSE '' END || " +
        "CASE WHEN doc_id % 5 = 0 THEN ' or call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS t " +
        "FROM documents) " +
        "SELECT doc_id, " +
        "CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS INT) AS n_emails, " +
        "CAST(len(regexp_extract_all(t, '\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones, " +
        "regexp_replace(regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS scrubbed " +
        "FROM p ORDER BY doc_id"),
    "q8_props_json" ->
      ("SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, " +
        "CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k " +
        "FROM events GROUP BY 1 ORDER BY 1"),
    // as-of replay: latest view per click via ranked left join; the window
    // shape on the Spark side and the join shape here must agree on the
    // tie-break (latest ts, then highest view event_id)
    "q9_asof_join" ->
      ("WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'), " +
        "v AS (SELECT user_id, ts, event_id AS vid FROM events WHERE event_type = 'view'), " +
        "j AS (SELECT c.event_id, c.user_id, c.ts, v.vid, " +
        "row_number() OVER (PARTITION BY c.event_id ORDER BY v.ts DESC, v.vid DESC) AS rn " +
        "FROM c LEFT JOIN v ON v.user_id = c.user_id AND v.ts <= c.ts) " +
        "SELECT event_id, user_id, ts, vid AS view_event_id FROM j WHERE rn = 1 ORDER BY event_id"),
    // range replay: plain BETWEEN join over floor-second epochs (the Spark
    // side buckets the same floor-second values; the bucket trick changes
    // the plan, not the result)
    "q10_range_join" ->
      ("WITH p AS (SELECT event_id, user_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS tsec " +
        "FROM events WHERE event_type = 'purchase'), " +
        "v AS (SELECT user_id AS vu, CAST(floor(epoch(ts)) AS BIGINT) AS vsec " +
        "FROM events WHERE event_type = 'view') " +
        "SELECT p.event_id, p.user_id, p.ts, COUNT(v.vsec) AS n_within " +
        "FROM p LEFT JOIN v ON v.vu = p.user_id AND abs(p.tsec - v.vsec) <= 600 " +
        "GROUP BY 1, 2, 3 ORDER BY 1"),
    // pipe3 replay: the extracted `t` equals the template's text field, so
    // the oracle replays the downstream curation directly over `text` —
    // any engine extraction/JSON-escaping infidelity breaks the hash
    "pipe3_extract_quality_dedup" ->
      ("WITH surv AS (SELECT doc_id, lang, text FROM (SELECT doc_id, lang, text, " +
        "MIN(doc_id) OVER (PARTITION BY text) AS m FROM documents) WHERE doc_id = m) " +
        "SELECT lang, count(*) AS n_docs, " +
        "CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens " +
        "FROM surv WHERE len(string_split(text, ' ')) >= 20 GROUP BY 1 ORDER BY 1"),
    "q11_quantiles" ->
      ("SELECT source, CAST(round(quantile_cont(n_chars, 0.5) * 10) AS BIGINT) AS p50_x10, " +
        "CAST(round(quantile_cont(n_chars, 0.9) * 10) AS BIGINT) AS p90_x10, " +
        "count(*) AS n FROM documents GROUP BY 1 ORDER BY 1"),
    // approx-percentile replay: in the exact regime (group size n with
    // eps*n < 0.5) Spark's GK sketch returns the element at 1-indexed
    // rank ceil(p*n); the replay selects it with an explicit row_number
    // (NOT quantile_disc, whose rank convention is floor(p*(n-1)))
    "q11b_quantiles_approx" ->
      ("WITH r AS (SELECT source, n_chars AS v, " +
        "row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn, " +
        "count(*) OVER (PARTITION BY source) AS n FROM documents) " +
        "SELECT source, " +
        "max(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT)) THEN v END) AS ap50, " +
        "max(CASE WHEN rn = greatest(1, CAST(ceil(0.9 * n) AS BIGINT)) THEN v END) AS ap90, " +
        "count(*) AS n FROM r GROUP BY source ORDER BY source"),
    // merge replay: survivors = base minus deleted/updated keys, plus the
    // updated payloads, plus the inserts under negated (collision-free) keys
    "cdc1_merge_upsert" ->
      ("SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 7 <> 1 " +
        "UNION ALL SELECT doc_id, source, n_chars + 1000 FROM documents WHERE doc_id % 7 = 1 " +
        "UNION ALL SELECT -doc_id - 1, source, n_chars FROM documents WHERE doc_id % 11 = 0 " +
        "ORDER BY doc_id"),
    "web1_domain_cap" ->
      ("SELECT doc_id, source, n_chars, rank FROM (" +
        "SELECT doc_id, source, n_chars, " +
        "CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS INT) AS rank " +
        "FROM documents) WHERE rank <= 2 ORDER BY source, rank"),
    "web2_mixture_sample" -> OracleSql.web2MixtureSample,
    "web3_seq_packing" ->
      ("SELECT doc_id, source, n_tokens, cum_tokens, " +
        "CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS first_seq, " +
        "CAST((cum_tokens - 1) // 512 AS BIGINT) AS last_seq FROM (" +
        "SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(len(string_split(text, ' '))) OVER (PARTITION BY source ORDER BY doc_id " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM documents) ORDER BY doc_id"),
    "dd1_exact_dedup" ->
      ("SELECT COUNT(*) AS n_unique, CAST(SUM(n_copies) AS BIGINT) AS n_docs, MIN(keep_id) AS min_keep, MAX(keep_id) AS max_keep FROM (" +
        "SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies FROM documents GROUP BY text)"),
    "dd4_ngram_jaccard" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "s AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]) AS sh FROM t WHERE len(w) >= 3) " +
        "SELECT a.doc_id AS doc_id, CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter, " +
        "CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS uni " +
        "FROM s a JOIN s b ON b.doc_id = a.doc_id + 1 ORDER BY 1"),
    "ann1_quantized_topk" ->
      ("SELECT vec_id, CAST(list_dot_product(list_transform(embedding, x -> round(x * 1000)), " +
        "(SELECT list_transform(embedding, x -> round(x * 1000)) FROM embeddings WHERE vec_id = 0)) AS BIGINT) AS qdot " +
        "FROM embeddings ORDER BY qdot DESC, vec_id LIMIT 10"),

    // exact-double cosine: both engines fold the dot product left-to-right
    // over double-cast floats, so the ranking (and therefore the top-10 id
    // set) is reproducible; only integer vec_ids are emitted.
    "ann2_bruteforce_topk" ->
      ("WITH qd AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv FROM embeddings WHERE vec_id = 0) " +
        "SELECT vec_id FROM (SELECT vec_id, " +
        "list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), (SELECT qv FROM qd)) / " +
        "(sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), list_transform(embedding, x -> CAST(x AS DOUBLE)))) * " +
        "(SELECT sqrt(list_dot_product(qv, qv)) FROM qd)) AS score FROM embeddings) " +
        "ORDER BY score DESC, vec_id LIMIT 10"),

    "pipe1_quality_dedup_langmix" ->
      ("WITH keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text), " +
        "q AS (SELECT doc_id, length(text) AS n_chars, len(string_split(text,' ')) AS n_tokens, " +
        "length(text) - length(regexp_replace(text,'[.,;:!?]','','g')) AS n_punct FROM documents), " +
        "scored AS (SELECT doc_id, " +
        "len(list_filter(string_split(text,' '), t -> t IN ('the','and','of','to','in','is','that','it','was','for'))) AS s_en, " +
        "len(list_filter(string_split(text,' '), t -> t IN ('der','die','das','und','ist','nicht','ein','mit','auf','zu'))) AS s_de, " +
        "len(list_filter(string_split(text,' '), t -> t IN ('le','la','les','et','de','un','une','est','dans','que'))) AS s_fr, " +
        "len(list_filter(string_split(text,' '), t -> t IN ('el','la','los','y','de','un','una','es','en','que'))) AS s_es, " +
        "len(list_filter(string_split(text,' '), t -> t IN ('的','是','了','在','我','有','和','不','人','这'))) " +
        "+ 2*(CASE WHEN contains(text,'的') THEN 1 ELSE 0 END) + 2*(CASE WHEN contains(text,'是') THEN 1 ELSE 0 END) " +
        "+ 2*(CASE WHEN contains(text,'了') THEN 1 ELSE 0 END) + 2*(CASE WHEN contains(text,'在') THEN 1 ELSE 0 END) " +
        "+ 2*(CASE WHEN contains(text,'我') THEN 1 ELSE 0 END) + 2*(CASE WHEN contains(text,'有') THEN 1 ELSE 0 END) " +
        "+ 2*(CASE WHEN contains(text,'和') THEN 1 ELSE 0 END) + 2*(CASE WHEN contains(text,'不') THEN 1 ELSE 0 END) " +
        "+ 2*(CASE WHEN contains(text,'人') THEN 1 ELSE 0 END) + 2*(CASE WHEN contains(text,'这') THEN 1 ELSE 0 END) AS s_zh " +
        "FROM documents), " +
        "lang AS (SELECT doc_id, CASE " +
        "WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en' " +
        "WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de' " +
        "WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr' " +
        "WHEN s_es >= s_zh THEN 'es' ELSE 'zh' END AS lang_pred FROM scored) " +
        "SELECT l.lang_pred, count(*) AS n_docs, CAST(sum(q.n_tokens) AS BIGINT) AS sum_tokens " +
        "FROM keep k JOIN q ON q.doc_id = k.doc_id JOIN lang l ON l.doc_id = k.doc_id " +
        "WHERE q.n_tokens >= 20 AND q.n_punct*10 <= q.n_chars " +
        "GROUP BY 1 ORDER BY 1"),

    // splitmix64-faithful replays of the sketch dedups (see graft.OracleSql)
    "dd2_minhash_lsh" -> OracleSql.dd2MinhashLsh,
    "dd3_simhash" -> OracleSql.dd3Simhash,
    "ann3_lsh_topk" -> OracleSql.ann3LshTopK,

    // IVF replay (see Ann.trainCentroids / Ann.ivfTopK): the deterministic
    // integer k-means codebook training is unrolled in SQL, then
    // assignment = integer argmin of |c|^2 - 2*dot(v,c) (ties -> lowest
    // cell); probe the 2 cells nearest the query; rank by quantized dot.
    // All int64, so the replay is bit-exact.
    "ann4_ivf_topk" -> OracleSql.ann4IvfTrained(),

    // sign-LSH bucket join + integer-quantized cosine threshold
    // cos >= 0.4  <=>  qdot >= 0 AND 25*qdot^2 >= 4*|a|^2*|b|^2 (HUGEINT;
    // see Dedup.embeddingNearDupLshQ / graft.OracleSql)
    "dd5_embedding_neardup" -> OracleSql.dd5EmbeddingNearDupLsh(num = 4L, den = 25L),

    // stopword-profile language ID over the synthesized per-language text
    // (see the tx1 query comment): same (lang, doc_id)-rotated word list,
    // then score replay + first-max tie-break.
    "tx1_lang_id" -> {
      val vocabCase = "CASE lang " +
        Seq("en", "de", "fr", "es").map(l => s"WHEN '$l' THEN ${sqlList(Tx1Vocab(l))}").mkString(" ") +
        s" ELSE ${sqlList(Tx1Vocab("zh"))} END"
      "WITH ml AS (SELECT lang AS lang_label, " +
        "array_to_string(list_transform(range(0, 30), i -> " +
        "CASE WHEN i % 3 = 2 THEN 'w' || CAST((doc_id + i) % 7 AS VARCHAR) " +
        s"ELSE ($vocabCase)[CAST((doc_id + i) % 10 + 1 AS INT)] END), ' ') AS t FROM documents), " +
        s"scored AS (SELECT lang_label, ${sqlLangScores("t")} FROM ml) " +
        s"SELECT lang_label, $sqlLangPredCase AS lang_pred, count(*) AS n " +
        "FROM scored GROUP BY 1, 2 ORDER BY 1, 2"
    },

    // FNV-style 64-bit rolling hash (graft.functions.Hashing.fingerprint):
    // h = h*1099511628211 + charAt(i) with signed-64 wraparound, replayed in
    // DuckDB as HUGEINT arithmetic mod 2^64, then re-signed.
    "tx4_fingerprint" ->
      ("SELECT doc_id, CAST(CASE WHEN r >= CAST('9223372036854775808' AS HUGEINT) " +
        "THEN r - CAST('18446744073709551616' AS HUGEINT) ELSE r END AS BIGINT) AS fp64 " +
        "FROM (SELECT doc_id, list_reduce(list_prepend(CAST('14695981039346656037' AS HUGEINT), " +
        "list_transform(string_split(text,''), c -> CAST(unicode(c) AS HUGEINT))), " +
        "(acc,c) -> (acc*1099511628211 + c) % CAST('18446744073709551616' AS HUGEINT)) AS r FROM documents) " +
        "ORDER BY doc_id"),

    "tx2_quality" ->
      ("SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(length(text) AS INT) AS n_chars, " +
        "CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, " +
        "CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'in'))) AS INT) AS n_stopwords, " +
        "CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS INT) AS n_punct, " +
        "CAST(list_aggregate(list_transform(string_split(text, ' '), t -> length(t)), 'max') AS INT) AS max_token_len " +
        "FROM documents ORDER BY 1"),
    "tx3_token_counts" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens, " +
        "CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS bpe_ish_tokens " +
        "FROM documents ORDER BY 1"),
    // the nav block has link density 1.0 (boilerplate); the <p> follows a
    // high-link-density block, so per the NumWordsRules tree it is content
    // iff it has > 40 words (the footer "next" block has only 3)
    "bp1_main_content" ->
      ("SELECT CAST(doc_id AS VARCHAR) AS doc_id, " +
        "CASE WHEN len(string_split(text, ' ')) > 40 THEN text ELSE '' END AS content " +
        "FROM documents ORDER BY 1"),
    // NumWordsRules replay over the fixed 4-block template (see the bp2
    // query comment): nav/footer are pure-link (density 1 -> boilerplate);
    // article content iff w > 40; teaser content iff article w > 4
    "bp2_main_content_blocks" ->
      ("SELECT doc_id, " +
        "CAST((CASE WHEN w > 40 THEN 1 ELSE 0 END) + (CASE WHEN w > 4 THEN 1 ELSE 0 END) AS INT) AS n_content_blocks, " +
        "CAST((CASE WHEN w > 40 THEN length(text) ELSE 0 END) + " +
        "(CASE WHEN w > 4 THEN length(lang || ' snippet about ' || source) ELSE 0 END) AS BIGINT) AS content_chars " +
        "FROM (SELECT doc_id, text, lang, source, len(string_split(text, ' ')) AS w FROM documents) " +
        "ORDER BY doc_id"),
    "mm2_pdf_layout_route" ->
      ("WITH m AS (SELECT doc_id, CAST(doc_id % 6 AS INT) AS f, " +
        "octet_length(encode(text)) AS n FROM documents) " +
        "SELECT doc_id, 'media://' || CAST(doc_id AS VARCHAR) || " +
        "CASE f WHEN 0 THEN '.pdf' WHEN 1 THEN '.jpg' WHEN 2 THEN '.wav' " +
        "WHEN 4 THEN '.webp' WHEN 5 THEN '.mp3' ELSE '.bin' END AS media_ref, " +
        "CASE f WHEN 0 THEN 'pdf_layout' WHEN 1 THEN 'image' WHEN 4 THEN 'image' " +
        "WHEN 2 THEN 'av' WHEN 5 THEN 'av' ELSE 'passthrough' END AS branch, " +
        "CAST(CASE WHEN f = 0 THEN 1 + n % 5 ELSE 0 END AS INT) AS n_pages, " +
        "CAST(CASE WHEN f = 1 OR f = 4 THEN 16 + n % 64 ELSE 0 END AS INT) AS width, " +
        "CAST(CASE WHEN f = 1 OR f = 4 THEN 16 + n % 48 ELSE 0 END AS INT) AS height " +
        "FROM m ORDER BY 1"),
    // audio/video replay: WAV duration = data bytes over byte rate
    // (sampleRate * channels * 2 for 16-bit PCM), floor; MP4 duration =
    // mvhd duration over timescale 1000 (v0 for doc_id % 4 = 1; v1 with
    // duration 2^32 + n for % 4 = 3 — the value only a correct 64-bit
    // read produces); container overheads exact (44 B WAV, 144 B v0 /
    // 156 B v1 ftyp+moov/mvhd+mdat)
    "mm3_av_meta" ->
      ("WITH m AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents) " +
        "SELECT doc_id, " +
        "'media://' || CAST(doc_id AS VARCHAR) || CASE WHEN doc_id % 2 = 0 THEN '.wav' ELSE '.mp4' END AS media_ref, " +
        "CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'mp4' END AS format, " +
        "CAST(CASE WHEN doc_id % 2 = 0 THEN 44 + n " +
        "WHEN doc_id % 4 = 1 THEN 144 + n ELSE 156 + n END AS BIGINT) AS n_bytes, " +
        "CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 + (n % 8) * 1000 ELSE 0 END AS INT) AS sample_rate, " +
        "CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + n % 2 ELSE 0 END AS INT) AS channels, " +
        "CAST(CASE WHEN doc_id % 2 = 0 THEN n * 1000 // ((8000 + (n % 8) * 1000) * (1 + n % 2) * 2) " +
        "WHEN doc_id % 4 = 1 THEN n % 100000 ELSE 4294967296 + n END AS BIGINT) AS duration_ms " +
        "FROM m ORDER BY doc_id"),
    // deep-decode replay: the oracle regenerates every pixel from the
    // SYNTHESIS formula (id + 7r + 13c + 101ch mod 256) and aggregates —
    // it never touches zlib, so Spark's inflate + 5-filter unfilter path
    // must reproduce the exact image to match. Series bounds 22/30 cover
    // the max dims (h <= 8+15, w <= 8+23).
    "mm4_pixel_stats" ->
      ("WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents), " +
        "d AS (SELECT doc_id, 8 + n % 24 AS w, 8 + n % 16 AS h FROM m), " +
        "px AS (SELECT d.doc_id, d.w, d.h, ch.ch, " +
        "(d.doc_id + r.r * 7 + c.c * 13 + ch.ch * 101) % 256 AS v " +
        "FROM d, generate_series(0, 22) AS r(r), generate_series(0, 30) AS c(c), " +
        "(VALUES (0),(1),(2)) AS ch(ch) WHERE r.r < d.h AND c.c < d.w) " +
        "SELECT doc_id, 'media://' || CAST(doc_id AS VARCHAR) || '.png' AS media_ref, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, CAST(ch AS INT) AS channel, " +
        "CAST(sum(v) AS BIGINT) AS px_sum, CAST(min(v) AS INT) AS px_min, " +
        "CAST(max(v) AS INT) AS px_max " +
        "FROM px GROUP BY doc_id, w, h, ch ORDER BY doc_id, ch"),
    // Adam7 replay: identical formula to mm4 — interlacing must be
    // invisible in the decoded pixels
    "mm17_png_interlace_stats" ->
      ("WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents), " +
        "d AS (SELECT doc_id, 8 + n % 24 AS w, 8 + n % 16 AS h FROM m), " +
        "px AS (SELECT d.doc_id, d.w, d.h, ch.ch, " +
        "(d.doc_id + r.r * 7 + c.c * 13 + ch.ch * 101) % 256 AS v " +
        "FROM d, generate_series(0, 22) AS r(r), generate_series(0, 30) AS c(c), " +
        "(VALUES (0),(1),(2)) AS ch(ch) WHERE r.r < d.h AND c.c < d.w) " +
        "SELECT doc_id, 'media://' || CAST(doc_id AS VARCHAR) || '.png' AS media_ref, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, CAST(ch AS INT) AS channel, " +
        "CAST(sum(v) AS BIGINT) AS px_sum, CAST(min(v) AS INT) AS px_min, " +
        "CAST(max(v) AS INT) AS px_max " +
        "FROM px GROUP BY doc_id, w, h, ch ORDER BY doc_id, ch"),
    // GIF deep-decode replay: regenerate every palette index from the
    // synthesis formula, map through the palette formulas, aggregate —
    // the oracle never runs LZW, so Spark's decompressor must reproduce
    // the exact index stream to match
    "mm6_gif_pixel_stats" ->
      ("WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents), " +
        "d AS (SELECT doc_id, 8 + n % 24 AS w, 8 + n % 16 AS h FROM m), " +
        "px AS (SELECT d.doc_id, d.w, d.h, ch.ch, " +
        "CASE ch.ch WHEN 0 THEN (((d.doc_id + r.r * 3 + c.c * 5) % 256) * 7 + 13) % 256 " +
        "WHEN 1 THEN (((d.doc_id + r.r * 3 + c.c * 5) % 256) * 11 + 29) % 256 " +
        "ELSE (((d.doc_id + r.r * 3 + c.c * 5) % 256) * 13 + 37) % 256 END AS v " +
        "FROM d, generate_series(0, 22) AS r(r), generate_series(0, 30) AS c(c), " +
        "(VALUES (0),(1),(2)) AS ch(ch) WHERE r.r < d.h AND c.c < d.w) " +
        "SELECT doc_id, 'media://' || CAST(doc_id AS VARCHAR) || '.gif' AS media_ref, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, CAST(ch AS INT) AS channel, " +
        "CAST(sum(v) AS BIGINT) AS px_sum, CAST(min(v) AS INT) AS px_min, " +
        "CAST(max(v) AS INT) AS px_max " +
        "FROM px GROUP BY doc_id, w, h, ch ORDER BY doc_id, ch"),
    // JPEG deep-decode replay: pixel = dc + 128 = (doc_id + 5*(r div 8) +
    // 11*(c div 8)) mod 256, identical across the three (grayscale)
    // channels — the oracle never touches Huffman codes, so Spark's
    // entropy decoder must reproduce the exact DC sequence (including
    // the running DC prediction) to match
    "mm7_jpeg_pixel_stats" ->
      ("WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents), " +
        "d AS (SELECT doc_id, 8 + n % 24 AS w, 8 + n % 16 AS h FROM m), " +
        "px AS (SELECT d.doc_id, d.w, d.h, ch.ch, " +
        "(d.doc_id + (r.r // 8) * 5 + (c.c // 8) * 11) % 256 AS v " +
        "FROM d, generate_series(0, 22) AS r(r), generate_series(0, 30) AS c(c), " +
        "(VALUES (0),(1),(2)) AS ch(ch) WHERE r.r < d.h AND c.c < d.w) " +
        "SELECT doc_id, 'media://' || CAST(doc_id AS VARCHAR) || '.jpg' AS media_ref, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, CAST(ch AS INT) AS channel, " +
        "CAST(sum(v) AS BIGINT) AS px_sum, CAST(min(v) AS INT) AS px_min, " +
        "CAST(max(v) AS INT) AS px_max " +
        "FROM px GROUP BY doc_id, w, h, ch ORDER BY doc_id, ch"),
    // 4:2:0 JPEG replay: same pixel formula as mm7 (flat-128 chroma
    // makes RGB = luma exactly), but the Spark side reaches it only
    // through the full chroma-subsampled path — MCU interleave with 4
    // luma blocks per MCU, three DC prediction chains, quarter-res
    // chroma upsample, color conversion. The oracle never touches any
    // of that.
    "mm9_jpeg420_pixel_stats" ->
      ("WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents), " +
        "d AS (SELECT doc_id, 8 + n % 24 AS w, 8 + n % 16 AS h FROM m), " +
        "px AS (SELECT d.doc_id, d.w, d.h, ch.ch, " +
        "(d.doc_id + (r.r // 8) * 5 + (c.c // 8) * 11) % 256 AS v " +
        "FROM d, generate_series(0, 22) AS r(r), generate_series(0, 30) AS c(c), " +
        "(VALUES (0),(1),(2)) AS ch(ch) WHERE r.r < d.h AND c.c < d.w) " +
        "SELECT doc_id, 'media://' || CAST(doc_id AS VARCHAR) || '.420.jpg' AS media_ref, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, CAST(ch AS INT) AS channel, " +
        "CAST(sum(v) AS BIGINT) AS px_sum, CAST(min(v) AS INT) AS px_min, " +
        "CAST(max(v) AS INT) AS px_max " +
        "FROM px GROUP BY doc_id, w, h, ch ORDER BY doc_id, ch"),
    // progressive replay: identical pixel formula to mm9 — the Spark
    // side reaches it only through SOF2 multi-scan coefficient
    // accumulation (DC successive approximation + per-component AC EOB
    // runs), none of which the oracle touches
    "mm10_jpeg_progressive_stats" ->
      ("WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents), " +
        "d AS (SELECT doc_id, 8 + n % 24 AS w, 8 + n % 16 AS h FROM m), " +
        "px AS (SELECT d.doc_id, d.w, d.h, ch.ch, " +
        "(d.doc_id + (r.r // 8) * 5 + (c.c // 8) * 11) % 256 AS v " +
        "FROM d, generate_series(0, 22) AS r(r), generate_series(0, 30) AS c(c), " +
        "(VALUES (0),(1),(2)) AS ch(ch) WHERE r.r < d.h AND c.c < d.w) " +
        "SELECT doc_id, 'media://' || CAST(doc_id AS VARCHAR) || '.p.jpg' AS media_ref, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, CAST(ch AS INT) AS channel, " +
        "CAST(sum(v) AS BIGINT) AS px_sum, CAST(min(v) AS INT) AS px_min, " +
        "CAST(max(v) AS INT) AS px_max " +
        "FROM px GROUP BY doc_id, w, h, ch ORDER BY doc_id, ch"),
    // PDF-text replay: expected extraction = header + doc text + the
    // builder's TJ end marker; n_pages from the same formula mm2 uses.
    // The oracle never parses PDF bytes — the Spark side must unescape
    // and (for odd ids) inflate its way back to this exact string.
    "mm5_pdf_text" ->
      ("SELECT doc_id, 'media://' || CAST(doc_id AS VARCHAR) || '.pdf' AS media_ref, " +
        "CAST(1 + octet_length(encode(text)) % 5 AS INT) AS n_pages, " +
        "'DOC' || CAST(doc_id AS VARCHAR) || ':' || text || '#END' AS text " +
        "FROM documents ORDER BY doc_id"),
    // PDF-feature replay: the integer primitives of the text-derived
    // feature, all recomputed from the expected extraction (mm5's
    // concatenation) in plain SQL — UTF-8 byte length, page count
    // formula, token count as #spaces + 1 (space and digit bytes are
    // ASCII-only in UTF-8, so byte counts equal char counts for them),
    // digit count. The Spark side must decode the PDF (FlateDecode for
    // odd ids) and count over the SAME string to match.
    "mm8_pdf_feature" ->
      ("WITH f AS (SELECT doc_id, " +
        "'DOC' || CAST(doc_id AS VARCHAR) || ':' || text || '#END' AS full_text, " +
        "octet_length(encode(text)) AS n FROM documents) " +
        "SELECT doc_id, 'media://' || CAST(doc_id AS VARCHAR) || '.pdf' AS media_ref, " +
        "CAST(octet_length(encode(full_text)) AS BIGINT) AS text_bytes, " +
        "CAST(1 + n % 5 AS INT) AS n_pages, " +
        "CAST(length(full_text) - length(replace(full_text, ' ', '')) + 1 AS BIGINT) AS n_tokens, " +
        "CAST(length(regexp_replace(full_text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digits " +
        "FROM f ORDER BY doc_id"),
    // filter-cascade replay: the same expected-text formula as mm5 —
    // whichever of the six filter chains the id selects, the decode must
    // invert it exactly; the oracle never runs LZW/zlib/base85
    "mm11_pdf_filter_cascade" ->
      ("SELECT doc_id, 'media://' || CAST(doc_id AS VARCHAR) || '.f.pdf' AS media_ref, " +
        "CAST(1 + octet_length(encode(text)) % 5 AS INT) AS n_pages, " +
        "'DOC' || CAST(doc_id AS VARCHAR) || ':' || text || '#END' AS text " +
        "FROM documents ORDER BY doc_id"),
    // predictor replay: same expected-text formula again — whichever
    // predictor/filter pair the id selects (PNG-over-Flate, PNG-over-LZW,
    // TIFF-2-over-Flate), the decode must reverse the row filters /
    // horizontal differencing byte-exactly underneath the codec; the
    // oracle never runs a predictor (PNG-row padding is trailing spaces
    // outside BT..ET, invisible to the tokenizer)
    "mm12_pdf_predictor" ->
      ("SELECT doc_id, 'media://' || CAST(doc_id AS VARCHAR) || '.pr.pdf' AS media_ref, " +
        "CAST(1 + octet_length(encode(text)) % 5 AS INT) AS n_pages, " +
        "'DOC' || CAST(doc_id AS VARCHAR) || ':' || text || '#END' AS text " +
        "FROM documents ORDER BY doc_id"),
    // embedded-image replay: identical pixel formula to mm7/mm9/mm10
    // (flat-chroma DC synthesis: pixel = dc + 128 on every channel) —
    // the Spark side reaches it only through the PDF XObject walk,
    // transport-filter reversal (ASCII85 for odd ids) and whichever JPEG
    // layout (baseline / 4:2:0 / progressive) the id selects
    "mm13_pdf_image_stats" ->
      ("WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents), " +
        "d AS (SELECT doc_id, 8 + n % 24 AS w, 8 + n % 16 AS h FROM m), " +
        "px AS (SELECT d.doc_id, d.w, d.h, ch.ch, " +
        "(d.doc_id + (r.r // 8) * 5 + (c.c // 8) * 11) % 256 AS v " +
        "FROM d, generate_series(0, 22) AS r(r), generate_series(0, 30) AS c(c), " +
        "(VALUES (0),(1),(2)) AS ch(ch) WHERE r.r < d.h AND c.c < d.w) " +
        "SELECT doc_id, 'media://' || CAST(doc_id AS VARCHAR) || '.i.pdf' AS media_ref, " +
        "CAST(0 AS INT) AS image_idx, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, CAST(ch AS INT) AS channel, " +
        "CAST(sum(v) AS BIGINT) AS px_sum, CAST(min(v) AS INT) AS px_min, " +
        "CAST(max(v) AS INT) AS px_max " +
        "FROM px GROUP BY doc_id, w, h, ch ORDER BY doc_id, ch"),
    // WebP replay: dims from the synthesis formulas; n_bytes = payload +
    // the EXACT per-variant container overhead incl. RIFF even padding
    // (see MediaCodec.webpBytes) — the Spark side must chunk-walk the
    // real bytes back to these numbers
    "mm14_webp_meta" ->
      ("WITH m AS (SELECT doc_id, CAST(doc_id % 3 AS INT) AS k, " +
        "CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents) " +
        "SELECT doc_id, 'media://' || CAST(doc_id AS VARCHAR) || '.webp' AS media_ref, " +
        "'webp' AS format, " +
        "CAST(CASE k WHEN 0 THEN 30 + n + n % 2 " +
        "WHEN 1 THEN 25 + n + (n + 1) % 2 " +
        "ELSE 38 + n + n % 2 END AS BIGINT) AS n_bytes, " +
        "CAST(16 + n % 64 AS INT) AS width, " +
        "CAST(16 + n % 48 AS INT) AS height " +
        "FROM m ORDER BY 1"),
    // MP3 replay: table lookups + the CBR duration estimate, all from
    // the synthesis parameters; audio bytes exclude the ID3 tag the
    // parser must skip by its synchsafe size
    "mm15_mp3_meta" ->
      ("WITH m AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS k, " +
        "CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents) " +
        "SELECT doc_id, 'media://' || CAST(doc_id AS VARCHAR) || '.mp3' AS media_ref, " +
        "'mp3' AS format, " +
        "CAST(4 + n + CASE k WHEN 1 THEN 10 + n % 100 " +
        "WHEN 3 THEN 210 + n % 1000 ELSE 0 END AS BIGINT) AS n_bytes, " +
        "CAST(CASE k WHEN 0 THEN 44100 WHEN 1 THEN 32000 " +
        "WHEN 2 THEN 22050 ELSE 24000 END AS INT) AS sample_rate, " +
        "CAST(CASE WHEN k = 0 OR k = 2 THEN 2 ELSE 1 END AS INT) AS channels, " +
        "CAST((4 + n) * 8 // CASE k WHEN 0 THEN 128 WHEN 1 THEN 320 " +
        "WHEN 2 THEN 64 ELSE 160 END AS BIGINT) AS duration_ms " +
        "FROM m ORDER BY 1"),
    // EXIF replay: orientation straight from the rotation formula (0 for
    // the bare every-fifth JPEG), dims from the same formulas as mm1 —
    // the Spark side must walk APP1 -> TIFF IFD0 in BOTH byte orders
    "mm16_exif_orientation" ->
      ("WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents) " +
        "SELECT doc_id, 'media://' || CAST(doc_id AS VARCHAR) || '.jpg' AS media_ref, " +
        "CAST(16 + n % 64 AS INT) AS width, CAST(16 + n % 48 AS INT) AS height, " +
        "CAST(CASE WHEN doc_id % 5 = 4 THEN 0 ELSE 1 + doc_id % 8 END AS INT) " +
        "AS orientation FROM m ORDER BY 1"),
    // reference-decode replay: the expected plaintext as a literal —
    // named + numeric resolved, unknown reference and bare & preserved
    "tx8_html_unescape" ->
      ("SELECT doc_id, '<b> café é 😀 doc ' || CAST(doc_id AS VARCHAR) || " +
        "' &co &unknown; AT&T ©' AS decoded FROM documents ORDER BY 1"),
    // transfer/content-coding replay: decoded plaintext per variant;
    // the chunked+gzip row's meta charset only sniffs if the Spark side
    // really de-chunked AND gunzipped first
    "wa3_http_content_encoding" ->
      ("WITH d AS (SELECT doc_id, CAST(doc_id % 5 AS INT) AS k FROM documents) " +
        "SELECT doc_id, " +
        "CASE WHEN k = 4 THEN 'iso-8859-1' ELSE 'utf-8' END AS charset, " +
        "CASE WHEN k = 4 THEN 'meta' ELSE 'header' END AS charset_src, " +
        "CASE k WHEN 0 THEN 'plain doc ' || CAST(doc_id AS VARCHAR) " +
        "WHEN 1 THEN 'chunked doc ' || CAST(doc_id AS VARCHAR) " +
        "WHEN 2 THEN 'gzipped doc ' || CAST(doc_id AS VARCHAR) " +
        "WHEN 3 THEN 'deflated doc ' || CAST(doc_id AS VARCHAR) " +
        "ELSE '<meta charset=iso-8859-1>chunked+gzip doc ' || CAST(doc_id AS VARCHAR) " +
        "END AS body_text FROM d ORDER BY 1"),
    // outlink-composite replay: three links per doc, each href / resolved
    // canonical URL / registered domain by formula — green only if the
    // engine extracted every href in document order AND the resolution
    // matched RFC 3986
    "pipe4_extract_outlinks" ->
      ("WITH d AS (SELECT doc_id, CAST(doc_id % 7 AS INT) AS a FROM documents), " +
        "h AS (SELECT doc_id, a, " +
        "'https://www.site' || CAST(a AS VARCHAR) || '.example.com' AS hostp FROM d) " +
        "SELECT doc_id, CAST(j.j AS INT) AS link_idx, " +
        "CASE j.j WHEN 0 THEN '/root' || CAST(a AS VARCHAR) || '.css' " +
        "WHEN 1 THEN 'img' || CAST(a AS VARCHAR) || '.png' " +
        "ELSE 'https://Other.ORG/abs' || CAST(a AS VARCHAR) END AS href, " +
        "CASE j.j WHEN 0 THEN hostp || '/root' || CAST(a AS VARCHAR) || '.css' " +
        "WHEN 1 THEN hostp || '/dir' || CAST(a AS VARCHAR) || '/sub/img' || CAST(a AS VARCHAR) || '.png' " +
        "ELSE 'https://other.org/abs' || CAST(a AS VARCHAR) END AS resolved, " +
        "CASE WHEN j.j = 2 THEN 'other.org' ELSE 'example.com' END AS domain " +
        "FROM h, generate_series(0, 2) AS j(j) ORDER BY 1, 2"),
    // PageRank replay: the full three-iteration fixed-point recurrence
    // unrolled in SQL — every truncating division replayed with //
    // (floor = trunc on these nonnegative values). Bit-exact because
    // the Spark side is integer arithmetic; a float PageRank could
    // never hash-match across engines.
    "pr1_pagerank" ->
      ("WITH nn AS (SELECT count(*) AS n FROM documents), " +
        "nodes AS (SELECT doc_id AS node FROM documents), " +
        "edges AS (" +
        "SELECT doc_id AS src, (doc_id*7) % (SELECT n FROM nn) AS dst FROM documents " +
        "UNION ALL SELECT doc_id, (doc_id*13+1) % (SELECT n FROM nn) FROM documents " +
        "UNION ALL SELECT doc_id, (doc_id*31+2) % (SELECT n FROM nn) FROM documents " +
        "UNION ALL SELECT doc_id, (doc_id*101+3) % (SELECT n FROM nn) FROM documents), " +
        "deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src), " +
        "c AS (SELECT (1099511627776 // (SELECT n FROM nn)) AS r0v, " +
        "((1099511627776 // (SELECT n FROM nn)) * 15) // 100 AS base), " +
        "r0 AS (SELECT node, (SELECT r0v FROM c) AS r FROM nodes), " +
        "m1 AS (SELECT e.dst AS node, SUM(r0.r // deg.d) AS mass FROM edges e " +
        "JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src GROUP BY e.dst), " +
        "r1 AS (SELECT nodes.node, (SELECT base FROM c) + (85 * COALESCE(m1.mass, 0)) // 100 AS r " +
        "FROM nodes LEFT JOIN m1 ON nodes.node = m1.node), " +
        "m2 AS (SELECT e.dst AS node, SUM(r1.r // deg.d) AS mass FROM edges e " +
        "JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src GROUP BY e.dst), " +
        "r2 AS (SELECT nodes.node, (SELECT base FROM c) + (85 * COALESCE(m2.mass, 0)) // 100 AS r " +
        "FROM nodes LEFT JOIN m2 ON nodes.node = m2.node), " +
        "m3 AS (SELECT e.dst AS node, SUM(r2.r // deg.d) AS mass FROM edges e " +
        "JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src GROUP BY e.dst), " +
        "r3 AS (SELECT nodes.node, (SELECT base FROM c) + (85 * COALESCE(m3.mass, 0)) // 100 AS r " +
        "FROM nodes LEFT JOIN m3 ON nodes.node = m3.node) " +
        "SELECT node, CAST(r AS BIGINT) AS rank FROM r3 ORDER BY 1"),
    // outlink replay: the absolute canonical target per href shape —
    // host lowercased, dot segments resolved, base query kept only for
    // the query-only ref
    "lk1_outlink_resolve" ->
      ("WITH d AS (SELECT doc_id, CAST(doc_id % 7 AS INT) AS a, " +
        "CAST(doc_id % 6 AS INT) AS k FROM documents), " +
        "h AS (SELECT doc_id, a, k, " +
        "'https://www.site' || CAST(a AS VARCHAR) || '.example.com' AS hostp FROM d) " +
        "SELECT doc_id, " +
        "CASE k WHEN 0 THEN 'https://Other.ORG/abs' || CAST(a AS VARCHAR) " +
        "WHEN 1 THEN '//cdn.example.com/c' || CAST(a AS VARCHAR) || '.js' " +
        "WHEN 2 THEN '/root' || CAST(a AS VARCHAR) || '.css' " +
        "WHEN 3 THEN 'img' || CAST(a AS VARCHAR) || '.png' " +
        "WHEN 4 THEN '../up' || CAST(a AS VARCHAR) || '/f.html' " +
        "ELSE '?y=2' END AS ref, " +
        "CASE k WHEN 0 THEN 'https://other.org/abs' || CAST(a AS VARCHAR) " +
        "WHEN 1 THEN 'https://cdn.example.com/c' || CAST(a AS VARCHAR) || '.js' " +
        "WHEN 2 THEN hostp || '/root' || CAST(a AS VARCHAR) || '.css' " +
        "WHEN 3 THEN hostp || '/dir' || CAST(a AS VARCHAR) || '/sub/img' || CAST(a AS VARCHAR) || '.png' " +
        "WHEN 4 THEN hostp || '/dir' || CAST(a AS VARCHAR) || '/up' || CAST(a AS VARCHAR) || '/f.html' " +
        "ELSE hostp || '/dir' || CAST(a AS VARCHAR) || '/sub/page.html?y=2' END AS resolved " +
        "FROM h ORDER BY 1"),
    // sitemap replay: per-entry fields by formula (fixed series + WHERE,
    // not lateral); the urlset locs only match if the parser resolved
    // &amp; back to & and the priority default applied on index entries
    "sm1_sitemap" ->
      ("WITH d AS (SELECT doc_id, CAST(1 + doc_id % 3 AS INT) AS n, " +
        "doc_id % 2 = 0 AS u FROM documents) " +
        "SELECT doc_id, CAST(j.j AS INT) AS entry_idx, " +
        "CASE WHEN u THEN 'url' ELSE 'sitemap' END AS kind, " +
        "CASE WHEN u THEN 'https://example.com/p' || CAST(j.j AS VARCHAR) || " +
        "'?a=1&b=' || CAST(doc_id AS VARCHAR) " +
        "ELSE 'https://example.com/sitemap' || CAST(j.j AS VARCHAR) || '.xml.gz' END AS loc, " +
        "CASE WHEN u THEN '2026-0' || CAST(1 + j.j AS VARCHAR) || '-01' " +
        "ELSE '2026-01-0' || CAST(1 + j.j AS VARCHAR) END AS lastmod, " +
        "CASE WHEN u THEN (j.j + 1) / 10.0 ELSE 0.5 END AS priority " +
        "FROM d, generate_series(0, 2) AS j(j) WHERE j.j < d.n ORDER BY 1, 2"),
    // canonicalization replay: expected canonical string + eTLD+1 by
    // CASE arithmetic over the same doc_id selectors the synth used
    "url1_canonicalize" ->
      ("WITH d AS (SELECT doc_id, CAST(doc_id % 7 AS INT) AS a, " +
        "CAST(doc_id % 3 AS INT) AS h, CAST(doc_id % 4 AS INT) AS p, " +
        "CAST(doc_id % 5 AS INT) AS q FROM documents) " +
        "SELECT doc_id, " +
        "(CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END) || '://' || " +
        "(CASE h WHEN 0 THEN 'www.blog' || CAST(a AS VARCHAR) || '.example.com' " +
        "WHEN 1 THEN 'cdn.assets' || CAST(a AS VARCHAR) || '.shop.co.uk' " +
        "ELSE 'user' || CAST(a AS VARCHAR) || '.github.io' END) || " +
        "(CASE WHEN p = 1 THEN ':8080' ELSE '' END) || " +
        "'/p' || CAST(a AS VARCHAR) || '/Asset%2F/q' || CAST(a AS VARCHAR) || '.html' || " +
        "(CASE q WHEN 1 THEN '?b=2&a=1' WHEN 2 THEN '?x=%2F' " +
        "WHEN 4 THEN '?id=' || CAST(doc_id AS VARCHAR) ELSE '' END) AS canonical_url, " +
        "CASE h WHEN 0 THEN 'example.com' WHEN 1 THEN 'shop.co.uk' " +
        "ELSE 'user' || CAST(a AS VARCHAR) || '.github.io' END AS registered_domain " +
        "FROM d ORDER BY 1"),
    // robots replay: the named-agent rows follow the longest-match /
    // allow-tie / $-anchor decision table; every otherbot row falls to
    // the * group's Disallow: /
    "rb1_robots" ->
      ("WITH d AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS a, " +
        "CAST(doc_id % 5 AS INT) AS k, doc_id % 2 = 0 AS g FROM documents) " +
        "SELECT doc_id, " +
        "CASE WHEN g THEN 'graftbot' ELSE 'otherbot' END AS agent, " +
        "CASE k WHEN 0 THEN '/private' || CAST(a AS VARCHAR) || '/secret.html' " +
        "WHEN 1 THEN '/private' || CAST(a AS VARCHAR) || '/public/x.html' " +
        "WHEN 2 THEN '/docs/file' || CAST(a AS VARCHAR) || '.pdf' " +
        "WHEN 3 THEN '/docs/file' || CAST(a AS VARCHAR) || '.pdfx' " +
        "ELSE '/open/page' || CAST(a AS VARCHAR) || '.html' END AS path, " +
        "CASE WHEN NOT g THEN FALSE WHEN k = 0 OR k = 2 THEN FALSE " +
        "ELSE TRUE END AS allowed, " +
        "CASE WHEN NOT g THEN '/' " +
        "WHEN k = 0 THEN '/private' || CAST(a AS VARCHAR) || '/' " +
        "WHEN k = 1 THEN '/private' || CAST(a AS VARCHAR) || '/public/' " +
        "WHEN k = 2 THEN '/*.pdf$' ELSE '' END AS matched_rule " +
        "FROM d ORDER BY 1"),
    // WARC replay: both records per doc by formula. The response row's
    // content_length is the EXACT HTTP block size — the oracle builds the
    // status line + headers as strings and measures them, never touching
    // gzip; the Spark side must walk real gzip members (CRC-verified) to
    // reach the same numbers. body_text replays as the raw doc text.
    "wa1_warc_records" ->
      ("WITH d AS (SELECT doc_id, text, CAST(doc_id % 3 AS INT) AS k, " +
        "CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents) " +
        "SELECT doc_id, CAST(0 AS INT) AS rec_idx, 'warcinfo' AS warc_type, " +
        "'' AS target_uri, CAST(0 AS INT) AS http_status, '' AS mime, " +
        "'' AS charset, '' AS charset_src, CAST(17 AS BIGINT) AS content_length, " +
        "'software: graft' || chr(13) || chr(10) AS body_text FROM d " +
        "UNION ALL " +
        "SELECT doc_id, CAST(1 AS INT), 'response', " +
        "'http://example.com/' || CAST(doc_id AS VARCHAR), " +
        "CAST(CASE k WHEN 0 THEN 200 WHEN 1 THEN 301 ELSE 404 END AS INT), " +
        "'text/html', 'utf-8', 'header', " +
        "CAST(octet_length(encode('HTTP/1.1 ' || " +
        "CAST(CASE k WHEN 0 THEN 200 WHEN 1 THEN 301 ELSE 404 END AS VARCHAR) || ' ' || " +
        "CASE k WHEN 0 THEN 'OK' WHEN 1 THEN 'Moved Permanently' ELSE 'Not Found' END || " +
        "chr(13) || chr(10) || 'Content-Type: text/html; charset=utf-8' || chr(13) || chr(10) || " +
        "'Content-Length: ' || CAST(n AS VARCHAR) || chr(13) || chr(10) || chr(13) || chr(10))) " +
        "+ n AS BIGINT), text FROM d ORDER BY 1, 2"),
    // charset replay: label/source/decoded text straight from the five
    // synthesis variants; the windows-1252 and latin-1 rows carry bytes
    // only the real C1-range table decodes to these literals
    "wa2_http_charset" ->
      ("WITH d AS (SELECT doc_id, CAST(doc_id % 5 AS INT) AS k FROM documents) " +
        "SELECT doc_id, " +
        "CASE k WHEN 1 THEN 'windows-1252' WHEN 2 THEN 'iso-8859-1' ELSE 'utf-8' END AS charset, " +
        "CASE k WHEN 0 THEN 'header' WHEN 1 THEN 'header' WHEN 2 THEN 'meta' " +
        "WHEN 3 THEN 'bom' ELSE 'default' END AS charset_src, " +
        "'text/html' AS mime, " +
        "CASE k WHEN 0 THEN 'résumé π doc ' || CAST(doc_id AS VARCHAR) " +
        "WHEN 1 THEN '€ “déjà vu” — doc ' || CAST(doc_id AS VARCHAR) " +
        "WHEN 2 THEN '<meta charset=iso-8859-1>ça va doc ' || CAST(doc_id AS VARCHAR) " +
        "WHEN 3 THEN 'BOM doc ' || CAST(doc_id AS VARCHAR) " +
        "ELSE 'plain doc ' || CAST(doc_id AS VARCHAR) END AS body_text " +
        "FROM d ORDER BY 1"),
    // real-container replay: format/dims from the synthesis formulas, and
    // n_bytes = payload + the EXACT container overhead (PNG sig+IHDR+IDAT+
    // IEND framing; GIF header/LSD + comment sub-block length bytes; JPEG
    // SOI/APP0/SOF0 + 4 bytes per <=65533-byte COM segment) — see
    // MediaCodec.pngBytes/gifBytes/jpegBytes
    "mm1_media_meta" ->
      ("WITH m AS (SELECT doc_id, CAST(doc_id % 3 AS INT) AS f, " +
        "CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents) " +
        "SELECT doc_id, 'media://' || CAST(doc_id AS VARCHAR) || '.' || " +
        "CASE f WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'jpeg' END AS media_ref, " +
        "CASE f WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'jpeg' END AS format, " +
        "CAST(CASE f WHEN 0 THEN 57 + n " +
        "WHEN 1 THEN 17 + n + (n + 254) // 255 " +
        "ELSE 35 + n + 4 * ((n + 65532) // 65533) END AS BIGINT) AS n_bytes, " +
        "CAST(16 + n % 64 AS INT) AS width, " +
        "CAST(16 + n % 48 AS INT) AS height " +
        "FROM m ORDER BY 1")
  )
}
