package graft

import graft.parser.Chunker
import graft.search.Router

class ChunkerRouterSpec extends SparkTestBase {

  private val rustSrc =
    """use std::fmt;
      |
      |pub struct Config {
      |    pub retries: u32,
      |}
      |
      |pub fn load_config(path: &str) -> Config {
      |    let raw = read_file(path);
      |    parse_toml(raw)
      |}
      |
      |async fn fetch_remote() {
      |    let c = load_config("x");
      |    client.get(c)
      |}
      |""".stripMargin

  private val pySrc =
    """import os
      |
      |def outer(x):
      |    y = helper(x)
      |    return y
      |
      |class Thing:
      |    def method(self):
      |        return self.value
      |""".stripMargin

  test("rust chunking: functions and types with correct spans") {
    val chunks = Chunker.chunkFile("src/lib.rs", "rust", rustSrc)
    val byName = chunks.map(c => c.name -> c).toMap
    assert(byName.keySet == Set("Config", "load_config", "fetch_remote"))
    assert(byName("Config").chunk_type == "class")
    assert(byName("load_config").chunk_type == "function")
    assert(byName("load_config").start_line == 7)
    assert(byName("load_config").content.contains("parse_toml"))
  }

  test("python chunking: indent-scoped defs, class body scanned for methods") {
    val chunks = Chunker.chunkFile("a.py", "python", pySrc)
    val names = chunks.map(_.name).toSet
    assert(names == Set("outer", "Thing", "method"))
    val outer = chunks.find(_.name == "outer").get
    assert(outer.end_line == 5) // stops before class Thing
  }

  test("markdown sections: small sections merge; big ones split at the primary level") {
    // All-small H2 sections under a distinct H1 title collapse into one
    // whole-file section via the merge rule (reference mod.rs:590-635)
    val md = "# Title\nintro\n## Usage\nrun it\n## License\nMIT"
    val chunks = Chunker.chunkFile("README.md", "markdown", md)
    assert(chunks.map(_.name) == Seq("Document"))
    assert(chunks(0).start_line == 1 && chunks(0).content.contains("MIT"))
    assert(chunks(0).doc == "Title") // breadcrumb keeps the title
    // ≥MdMinSectionLines sections survive the merge and carry the title
    // breadcrumb in doc (the reference's signature field)
    val filler = (1 to 32).map(n => s"line $n").mkString("\n")
    val big = s"# Title\nintro\n## Usage\n$filler\n## License\n$filler"
    val bigChunks = Chunker.chunkFile("README.md", "markdown", big)
    assert(bigChunks.map(_.name) == Seq("Usage", "License"))
    assert(bigChunks.forall(_.doc == "Title"))
    assert(bigChunks(0).start_line == 1) // small preamble merged into Usage
  }

  test("markdown headings inside code fences are ignored (headings.rs:141-149)") {
    val filler = (1 to 32).map(n => s"line $n").mkString("\n")
    val md = s"# Real\nintro\n## A\n```\n# Not a heading\n## Also not\n```\n$filler\n## B\n$filler"
    val chunks = Chunker.chunkFile("x.md", "markdown", md)
    assert(chunks.map(_.name) == Seq("A", "B"))
  }

  test("markdown inverted hierarchy: H2 title above H1 chapters (headings.rs:182-209)") {
    val filler = (1 to 32).map(n => s"chapter line $n").mkString("\n")
    val md = s"## Doc Title\n\nIntro.\n\n# Chapter A\n$filler\n# Chapter B\n$filler"
    val chunks = Chunker.chunkFile("doc.md", "markdown", md)
    assert(chunks.map(_.name) == Seq("Chapter A", "Chapter B"))
    assert(chunks.forall(_.doc == "Doc Title"))
    // the small title preamble merged into Chapter A
    assert(chunks(0).start_line == 1)
  }

  test("markdown ATX validity: hash-run length and the required space (headings.rs:129-137)") {
    val filler = (1 to 32).map(n => s"l$n").mkString("\n")
    val md = s"# T\nintro\n## Good\n$filler\n####### seven\n#NoSpace\n## Fine\n$filler"
    val chunks = Chunker.chunkFile("x.md", "markdown", md)
    assert(chunks.map(_.name) == Seq("Good", "Fine"))
  }

  test("go / c / typescript / php / kotlin / ruby signature packs extract chunks") {
    val cases = Seq(
      ("go", "func Handle(w http.ResponseWriter) {\n  serve(w)\n}\n\ntype Server struct {\n  port int\n}",
        Set("Handle" -> "function", "Server" -> "class")),
      ("c", "static int parse_line(char *s) {\n  return tokenize(s);\n}\n\nstruct config {\n  int retries;\n};",
        Set("parse_line" -> "function", "config" -> "class")),
      ("typescript", "export async function fetchData(url: string) {\n  return get(url);\n}\n\nexport interface Result {\n  ok: boolean;\n}",
        Set("fetchData" -> "function", "Result" -> "class")),
      ("php", "class UserRepo {\n  public function find($id) {\n    return $this->db->get($id);\n  }\n}",
        Set("UserRepo" -> "class", "find" -> "function")),
      ("kotlin", "data class Point(val x: Int)\n\nsuspend fun load(id: Long): Point {\n  return fetch(id)\n}",
        Set("Point" -> "class", "load" -> "function")),
      ("ruby", "class Parser\n  def parse(text)\n    tokenize(text)\n  end\nend",
        Set("Parser" -> "class", "parse" -> "function")))
    cases.foreach { case (lang, src, want) =>
      val got = Chunker.chunkFile(s"f.$lang", lang, src)
        .map(c => c.name -> c.chunk_type).toSet
      assert(got == want, s"$lang: got $got want $want")
    }
  }

  test("braces inside strings and comments do not fool the span scanner") {
    val src =
      """fn tricky() {
        |    let s = "closing } brace { inside";
        |    // a } in a line comment
        |    /* and a { in
        |       a block comment } */
        |    let c = '}';
        |    helper(s);
        |}
        |
        |fn after() {
        |    done();
        |}
        |""".stripMargin
    val chunks = Chunker.chunkFile("t.rs", "rust", src)
    val byName = chunks.map(c => c.name -> c).toMap
    assert(byName.keySet == Set("tricky", "after"))
    assert(byName("tricky").end_line == 8, s"got ${byName("tricky").end_line}")
    assert(byName("after").start_line == 10)
    // rust lifetimes must not open a phantom string
    val lt = Chunker.chunkFile("l.rs", "rust",
      "fn get<'a>(x: &'a str) -> &'a str {\n    x\n}\n")
    assert(lt.head.name == "get" && lt.head.end_line == 3)
  }

  test("csharp / swift / lua / perl / shell / sql signature packs extract chunks") {
    val cs = Chunker.chunkFile("A.cs", "csharp",
      "public class Greeter {\n  public string Greet(string n) {\n    return n;\n  }\n}\n")
    assert(cs.exists(c => c.name == "Greeter" && c.chunk_type == "class"))
    assert(cs.exists(c => c.name == "Greet" && c.chunk_type == "function"))
    val sw = Chunker.chunkFile("a.swift", "swift",
      "struct Point {\n  var x: Int\n}\n\nfunc dist(a: Point) -> Int {\n  return a.x\n}\n")
    assert(sw.exists(c => c.name == "Point" && c.chunk_type == "class"))
    assert(sw.exists(c => c.name == "dist" && c.chunk_type == "function"))
    val lua = Chunker.chunkFile("a.lua", "lua",
      "function add(a, b)\n  return a + b\nend\n\nlocal function mul(a, b)\n  return a * b\nend\n")
    assert(lua.map(_.name).toSet == Set("add", "mul"))
    assert(lua.forall(_.content.endsWith("end")))
    val pl = Chunker.chunkFile("a.pl", "perl",
      "package Greeter;\n\nsub greet {\n    my $n = shift; # a } comment\n    return $n;\n}\n")
    assert(pl.exists(c => c.name == "Greeter" && c.chunk_type == "class"))
    val greet = pl.find(_.name == "greet").get
    assert(greet.end_line == 6)
    val sh = Chunker.chunkFile("a.sh", "shell",
      "greet() {\n  echo \"hi } there\"\n}\n\nfunction cleanup {\n  rm -f /tmp/x\n}\n")
    assert(sh.map(_.name).toSet == Set("greet", "cleanup"))
    assert(sh.find(_.name == "greet").get.end_line == 3)
    val sql = Chunker.chunkFile("a.sql", "sql",
      "CREATE TABLE users (\n  id BIGINT\n);\n\nCREATE OR REPLACE VIEW v AS\nSELECT * FROM users;\n")
    assert(sql.exists(c => c.name == "users" && c.chunk_type == "class"))
    assert(sql.find(_.name == "users").get.end_line == 3)
    assert(sql.exists(c => c.name == "v"))
  }

  test("elixir / julia / zig / dart / groovy / r signature packs extract chunks") {
    val ex = Chunker.chunkFile("a.ex", "elixir",
      "defmodule Greeter do\n  def greet(n) do\n    n\n  end\nend\n")
    assert(ex.exists(c => c.name == "Greeter" && c.chunk_type == "class"))
    val g = ex.find(_.name == "greet").get
    assert(g.chunk_type == "function" && g.end_line == 4)
    val jl = Chunker.chunkFile("a.jl", "julia",
      "struct Point\n    x::Int\nend\n\nfunction dist!(p)\n    p.x\nend\n")
    assert(jl.exists(c => c.name == "Point" && c.chunk_type == "class"))
    assert(jl.exists(c => c.name == "dist!" && c.end_line == 7))
    val zg = Chunker.chunkFile("a.zig", "zig",
      "const Point = struct {\n    x: i32,\n};\n\npub fn dist(p: Point) i32 {\n    return p.x;\n}\n")
    assert(zg.exists(c => c.name == "Point" && c.chunk_type == "class"))
    assert(zg.exists(c => c.name == "dist" && c.end_line == 7))
    val dt = Chunker.chunkFile("a.dart", "dart",
      "class Point {\n  int x = 0;\n}\n\nint dist(Point p) {\n  return p.x;\n}\n")
    assert(dt.exists(c => c.name == "Point" && c.chunk_type == "class"))
    assert(dt.exists(c => c.name == "dist" && c.chunk_type == "function"))
    val gv = Chunker.chunkFile("A.groovy", "groovy",
      "class Greeter {\n  def greet(n) {\n    return n\n  }\n}\n")
    assert(gv.exists(c => c.name == "Greeter" && c.chunk_type == "class"))
    assert(gv.exists(c => c.name == "greet" && c.end_line == 4))
    val r = Chunker.chunkFile("a.R", "r",
      "dist <- function(p) {\n  p$x  # a } in comment\n}\n\nscale.by = function(v, k) {\n  v * k\n}\n")
    assert(r.map(_.name).toSet == Set("dist", "scale.by"))
    assert(r.find(_.name == "dist").get.end_line == 3)
  }

  test("erlang / haskell / ocaml / yaml / ini signature packs extract chunks") {
    val erl = Chunker.chunkFile("a.erl", "erlang",
      "-module(m).\n\ngreet(N) ->\n    N + 1;\ngreet(_) ->\n    0.\n\nfare(X) ->\n    X.\n")
    assert(erl.map(_.name).toSet == Set("greet", "fare"))
    assert(erl.find(_.name == "greet").get.end_line == 6) // both clauses to the '.'
    val hs = Chunker.chunkFile("a.hs", "haskell",
      "module M where\n\ndist :: Int -> Int\ndist x = x * 2\n\ndata Point = Point Int Int\n")
    assert(hs.exists(c => c.name == "dist" && c.end_line == 4))
    assert(hs.exists(c => c.name == "Point" && c.chunk_type == "class"))
    val ml = Chunker.chunkFile("a.ml", "ocaml",
      "type point = { x : int }\n\nlet rec fact n =\n  if n = 0 then 1\n  else n * fact (n - 1)\n")
    assert(ml.exists(c => c.name == "point" && c.chunk_type == "class"))
    assert(ml.exists(c => c.name == "fact" && c.end_line == 5))
    val ya = Chunker.chunkFile("a.yaml", "yaml",
      "server:\n  host: a\n  port: 1\n\nlogging:\n  level: info\n")
    assert(ya.map(_.name).toSet == Set("server", "logging"))
    assert(ya.find(_.name == "server").get.end_line == 3)
    val ini = Chunker.chunkFile("a.ini", "ini",
      "; top comment\nkey = global\n\n[database]\nhost = x\n\n[cache]\nttl = 5\n")
    assert(ini.map(_.name) == Seq("preamble", "database", "cache"))
    assert(ini.find(_.name == "database").get.content.contains("host = x"))
    val toml = Chunker.chunkFile("a.toml", "toml",
      "[package]\nname = \"x\"\n\n[dependencies]\nserde = \"1\"\n")
    assert(toml.map(_.name) == Seq("package", "dependencies"))
  }

  test("makefile / graphql / proto / gleam / fsharp / solidity / ps1 / tf / vb / objc packs") {
    val mk = Chunker.chunkFile("Makefile", "makefile",
      "CC := gcc\n\nbuild: deps\n\tgcc -o out main.c\n\ttouch build\n\nclean:\n\trm -f out\n")
    assert(mk.map(_.name).toSet == Set("build", "clean"))
    assert(mk.find(_.name == "build").get.end_line == 5)
    val gq = Chunker.chunkFile("s.graphql", "graphql",
      "type User {\n  id: ID!\n}\n\nquery GetUser {\n  user { id }\n}\n")
    assert(gq.exists(c => c.name == "User" && c.chunk_type == "class"))
    assert(gq.exists(c => c.name == "GetUser" && c.chunk_type == "function"))
    val pr = Chunker.chunkFile("a.proto", "proto",
      "message Req {\n  string q = 1;\n}\n\nservice Search {\n  rpc Run (Req) returns (Req);\n}\n")
    assert(pr.map(_.name).toSet == Set("Req", "Search", "Run"))
    val gl = Chunker.chunkFile("a.gleam", "gleam",
      "pub type Cat {\n  Cat(name: String)\n}\n\npub fn meow(c: Cat) {\n  c.name\n}\n")
    assert(gl.exists(c => c.name == "Cat" && c.chunk_type == "class"))
    assert(gl.exists(c => c.name == "meow" && c.chunk_type == "function"))
    val fs = Chunker.chunkFile("a.fs", "fsharp",
      "type Point = { X: int }\n\nlet rec fact n =\n    if n = 0 then 1\n    else n * fact (n - 1)\n")
    assert(fs.exists(c => c.name == "Point" && c.chunk_type == "class"))
    assert(fs.exists(c => c.name == "fact" && c.end_line == 5))
    val sol = Chunker.chunkFile("a.sol", "solidity",
      "contract Token {\n    function mint(uint a) public {\n        total += a;\n    }\n}\n")
    assert(sol.exists(c => c.name == "Token" && c.chunk_type == "class"))
    assert(sol.exists(c => c.name == "mint" && c.end_line == 4))
    val ps = Chunker.chunkFile("a.ps1", "powershell",
      "function Get-Widget {\n  # a } in comment\n  return $w\n}\n")
    assert(ps.head.name == "Get-Widget" && ps.head.end_line == 4)
    val tf = Chunker.chunkFile("m.tf", "terraform",
      "resource \"aws_s3_bucket\" \"data\" {\n  bucket = \"x\"\n}\n\nvariable \"region\" {\n  default = \"us\"\n}\n")
    assert(tf.map(_.name).toSet == Set("data", "region"))
    val vb = Chunker.chunkFile("A.vb", "vb",
      "Public Class Greeter\n    Public Function Greet(n As String) As String\n        Return n\n    End Function\nEnd Class\n")
    assert(vb.exists(c => c.name == "Greeter" && c.end_line == 5))
    assert(vb.exists(c => c.name == "Greet" && c.end_line == 4))
    val m = Chunker.chunkFile("A.m", "objc",
      "@interface Greeter : NSObject\n- (NSString *)greet;\n@end\n\n@implementation Greeter\n- (NSString *)greet {\n    return @\"hi\";\n}\n@end\n")
    assert(m.count(c => c.name == "Greeter" && c.chunk_type == "class") == 2)
    assert(m.exists(c => c.name == "greet" && c.chunk_type == "function" && c.end_line == 8))
  }

  test("glsl / css / tex / matlab / fortran packs") {
    val gl = Chunker.chunkFile("a.vert", "glsl",
      "struct Light {\n  vec3 pos;\n};\n\nvoid main() {\n  gl_Position = vec4(1.0);\n}\n")
    assert(gl.exists(c => c.name == "Light" && c.chunk_type == "class"))
    assert(gl.exists(c => c.name == "main" && c.end_line == 7))
    val css = Chunker.chunkFile("a.css", "css",
      ".button {\n  color: red; /* } in comment */\n}\n\nh1, h2 {\n  margin: 0;\n}\n")
    assert(css.map(_.name) == Seq(".button", "h1, h2"))
    assert(css.head.end_line == 3)
    val tex = Chunker.chunkFile("a.tex", "tex",
      "\\documentclass{article}\n\\section{Intro}\nHello.\n\\subsection{Detail}\nMore.\n\\section{End}\nBye.\n")
    assert(tex.map(_.name) == Seq("Intro", "Detail", "End"))
    assert(tex.find(_.name == "Intro").get.end_line == 3) // next sectioning cmd ends it
    val ml = Chunker.chunkFile("a.m2", "matlab",
      "function y = dist(x)\n  y = x * 2;\nend\n\nclassdef Point\nend\n")
    assert(ml.exists(c => c.name == "dist" && c.end_line == 3))
    assert(ml.exists(c => c.name == "Point" && c.chunk_type == "class"))
    val f = Chunker.chunkFile("a.f90", "fortran",
      "module geom\ncontains\n  subroutine scale(x)\n    x = x * 2\n  end subroutine scale\nend module geom\n")
    assert(f.exists(c => c.name == "geom" && c.chunk_type == "class"))
    assert(f.exists(c => c.name == "scale" && c.end_line == 5))
  }

  test("vue/svelte embedded script: js chunks at file-relative lines + template section") {
    val vue =
      """<template>
        |  <div>{{ total }}</div>
        |</template>
        |<script>
        |export function add(a, b) {
        |  return a + b;
        |}
        |</script>
        |""".stripMargin
    val chunks = Chunker.chunkFile("App.vue", "vue", vue)
    val add = chunks.find(_.name == "add").get
    assert(add.language == "vue" && add.chunk_type == "function")
    assert(add.start_line == 5 && add.end_line == 7)
    assert(chunks.exists(c => c.chunk_type == "section" && c.name == "template" &&
      c.start_line == 1 && c.end_line == 3))
  }

  test("html converts to sections: script/style/head dropped, headings leveled, entities decoded") {
    val html =
      """<html><head><title>T</title><style>a { b: c; }</style></head>
        |<body><h1>Top</h1><p>x &lt;= y &amp; z</p>
        |<script>ignore() { all of this }</script>
        |<h3>Deep</h3><ul><li>one</li><li>two</li></ul></body></html>""".stripMargin
    val text = graft.parser.HtmlConvert.toText(html)
    assert(text.startsWith("# Top"))
    assert(text.contains("x <= y & z"))
    assert(text.contains("### Deep"))
    assert(!text.contains("ignore") && !text.contains("style"))
    assert(!text.contains("</") && !text.contains("<p>") && !text.contains("<h"))
    val ls = text.linesIterator.toSeq
    assert(ls.contains("one") && ls.contains("two") &&
      ls.indexOf("one") < ls.indexOf("two"))
    val chunks = Chunker.chunkFile("a.html", "html", html)
    // the lone H3 appears once → primary falls back to the title level
    // and the whole converted doc is one section under the H1 title
    assert(chunks.map(c => (c.language, c.chunk_type, c.name)).toSet ==
      Set(("html", "section", "Top")))
    assert(chunks.head.content.contains("### Deep"))
  }

  test("markdown tables become table chunks; long tables split into header-repeated windows") {
    val md =
      """# Data
        |intro text
        |
        || name | value |
        ||------|-------|
        || a    | 1     |
        || b    | 2     |
        |
        |## Next
        |text
        |""".stripMargin
    val chunks = Chunker.chunkFile("t.md", "markdown", md)
    assert(chunks.exists(c => c.chunk_type == "section" && c.name == "Data"))
    val table = chunks.find(_.chunk_type == "table").get
    assert(table.name == "Data_t0")
    assert(table.content.startsWith("| name | value |"))
    assert(table.content.linesIterator.size == 4) // header + sep + 2 rows
    assert(table.start_line == 4 && table.end_line == 7)
    // long table: > MaxTableChars splits into windows, header repeated
    val rows = (1 to 60).map(i => s"| row$i | ${"x" * 40} |").mkString("\n")
    val big = s"# Big\n\n| k | v |\n|---|---|\n$rows\n"
    val wins = Chunker.chunkFile("b.md", "markdown", big)
      .filter(_.chunk_type == "table")
    assert(wins.length > 1, s"expected windows, got ${wins.length}")
    assert(wins.forall(_.name.startsWith("Big_t0w")))
    assert(wins.forall(_.content.startsWith("| k | v |\n|---|---|")))
    assert(wins.forall(_.content.length <= Chunker.MaxTableChars + 50))
    // every data row lands in exactly one window
    val rebuilt = wins.flatMap(_.content.linesIterator.drop(2)).toSeq
    assert(rebuilt == rows.linesIterator.toSeq)
  }

  test("doc comments above a signature are captured; size caps enforced") {
    val src =
      """/// Loads the config from disk.
        |/// Retries on transient errors.
        |pub fn load(path: &str) -> Config {
        |    read(path)
        |}
        |
        |pub fn undocumented() -> u64 {
        |    7
        |}
        |""".stripMargin
    val chunks = Chunker.chunkFile("d.rs", "rust", src)
    val byName = chunks.map(c => c.name -> c).toMap
    assert(byName("load").doc ==
      "Loads the config from disk. Retries on transient errors.")
    assert(byName("undocumented").doc == "")
    // oversized file skipped entirely
    val big = "x" * (Chunker.MaxFileBytes + 1)
    assert(Chunker.chunkFile("big.rs", "rust", big).isEmpty)
  }

  test("unknown language falls back to a whole-file chunk; empty file to none") {
    assert(Chunker.chunkFile("x.cfg", "ini", "a=1\nb=2").map(_.chunk_type) == Seq("file"))
    assert(Chunker.chunkFile("e.rs", "rust", "").isEmpty)
  }

  test("call-site extraction: direct vs method trust tiers, keywords dropped") {
    val chunks = Chunker.chunkFile("src/lib.rs", "rust", rustSrc)
    val calls = chunks.flatMap(Chunker.callSites)
    val fromLoad = calls.filter(_.caller == "load_config")
    assert(fromLoad.map(_.callee).toSet == Set("read_file", "parse_toml"))
    assert(fromLoad.forall(_.edge_kind == "direct"))
    val get = calls.find(_.callee == "get").get
    assert(get.edge_kind == "method" && get.caller == "fetch_remote")
    assert(!calls.exists(_.callee == "if"))
  }

  test("type-reference extraction: param / return / field / impl kinds") {
    val src =
      """pub struct Engine {
        |    config: Config,
        |    pool: ThreadPool,
        |}
        |
        |impl Runner for Engine {
        |}
        |
        |pub fn build(cfg: Config, n: usize) -> Engine {
        |    Engine::new(cfg)
        |}
        |""".stripMargin
    val refs = Chunker.chunkFile("e.rs", "rust", src).flatMap(Chunker.typeRefs)
      .map(r => (r.chunk_name, r.type_name, r.edge_kind)).toSet
    assert(refs.contains(("Engine", "Config", "field")))
    assert(refs.contains(("Engine", "ThreadPool", "field")))
    assert(refs.contains(("build", "Config", "param")))
    assert(refs.contains(("build", "Engine", "return")))
    assert(refs.exists(r => r._3 == "impl" && r._2 == "Runner"))
    // a field-shaped line inside a block comment or string region
    // never yields a field edge (the callSites commentMask rule)
    val masked = Chunker.chunkFile("f.rs", "rust",
      "pub struct Real {\n    pub good: GoodType,\n    /* example:\n" +
        "    bad: PhantomType,\n    */\n    note: NoteType,\n}\n")
      .flatMap(Chunker.typeRefs).map(r => (r.type_name, r.edge_kind)).toSet
    assert(masked == Set(("GoodType", "field"), ("NoteType", "field")),
      masked.toString)
    // lowercase primitives (usize) never become type edges
    assert(!refs.exists(_._2 == "usize"))
  }

  test("chunkDataset runs the flatMap distributed") {
    import spark.implicits._
    val files = Seq(
      ("src/lib.rs", "rust", rustSrc),
      ("a.py", "python", pySrc)).toDF("origin", "language", "content")
    val ds = Chunker.chunkDataset(files)
    assert(ds.count() == 6)
    assert(Chunker.callSitesFromChunks(ds.toDF()).count() >= 4)
  }

  test("router classifies with fixed precedence and resolves alpha") {
    import Router._
    assert(classify("parse_toml").name == "identifier_lookup")
    assert(classify("HttpClient").name == "identifier_lookup")
    assert(classify("all structs in the parser").name == "type_filtered")
    assert(classify("builder pattern usage").name == "structural")
    assert(classify("what happens when the timeout fires").name == "behavioral")
    assert(classify("functions without error handling").name == "negation")
    assert(classify("parse the file then write the index").name == "multi_step")
    assert(classify("retry with backoff").name == "behavioral")
    assert(classify("").name == "unknown")
    assert(alphaFor(Category.TypeFiltered) == 0.0)
    assert(alphaFor(Category.IdentifierLookup) == 0.85)
  }

  test("sanitizeFtsQuery: operator drop, char strip, quirks — column form agrees") {
    import Router.sanitizeFtsQuery
    assert(sanitizeFtsQuery("load config") == "load config")
    assert(sanitizeFtsQuery("a AND b OR c NOT d NEAR e") == "a b c d e")
    assert(sanitizeFtsQuery("or and not near") == "or and not near")
    assert(sanitizeFtsQuery("\"q\" *s* (p) c+ d-y x:y ^b {z}") ==
      "q s p c dy xy b z")
    // fully-stripped word keeps its separator slot (reference quirk)
    assert(sanitizeFtsQuery("a ((( b") == "a  b")
    assert(sanitizeFtsQuery("OR") == "")
    assert(sanitizeFtsQuery("  pad  ") == "pad")
    // the operator filter sees the RAW word: O+R strips to OR and stays
    assert(sanitizeFtsQuery("O+R x") == "OR x")
    // the q201 column derivation is the same function
    val rows = graft.queries.Search.q201(spark, sf)
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    rows.foreach { case (raw, got) =>
      assert(got == sanitizeFtsQuery(raw), s"column != driver for '$raw'")
    }
  }

  test("synonym expansion preserves order and dedups; type hints extracted") {
    val e = Router.expand("delete user config")
    assert(e.take(2) == Seq("delete", "remove"))
    assert(e.contains("configuration") && e.distinct == e)
    assert(Router.typeHints("show all structs and functions") == Seq("class", "function"))
    val r = Router.route("all structs")
    assert(r.category == "type_filtered" && r.alpha == 0.0 && r.typeHints == Seq("class"))
    // r13: definitional type-filter shapes (the real v3 phrasings —
    // none carry the all/list/show quantifier)
    assert(Router.classify("struct definitions in src/impact").name
      == "type_filtered")
    assert(Router.classify("methods on HnswIndex").name == "type_filtered")
    assert(Router.classify("impl blocks for CagraIndex").name
      == "type_filtered")
    assert(Router.classify("error types in src").name == "type_filtered")
    assert(Router.typeHints("function type definitions and type aliases")
      == Seq("function", "typealias"))
    assert(Router.typeHints("methods on HnswIndex")
      == Seq("function", "class"))
    // a bare type word with no definitional/quantifier/preposition
    // shape does NOT flip: structural and conceptual stay put
    assert(Router.classify("recursive mutex builder").name == "structural")
    assert(Router.classify("function that embeds a batch").name
      == "conceptual")
    // negated-token extraction: tokens shared with the positive head
    // are not negated
    import graft.search.BatchRetrieval
    assert(BatchRetrieval.negatedTokens(
      "sparse vector search not dense embedding search")
      == Seq("dense", "embedding"))
    assert(BatchRetrieval.negatedTokens("search without an index")
      == Seq("an", "index").filter(_.length >= 2))
  }

  test("multi-line signature chunks; multi-line prototype rejected") {
    val c = Seq("int add_pair(", "    int a,", "    int b);", "",
      "int add_pair(", "    int a,", "    int b) {", "    return a + b;",
      "}").mkString("\n")
    val chunks = Chunker.chunkFile("m.c", "c", c)
    assert(chunks.map(ch => (ch.name, ch.start_line, ch.end_line)) ==
      Seq(("add_pair", 5, 9)))
  }

  test("leading return type on its own line head-joins into the signature") {
    val c = "static unsigned long\nhash_mix(unsigned long a) {\n    return a;\n}\n"
    assert(Chunker.chunkFile("h.c", "c", c)
      .map(ch => (ch.name, ch.start_line, ch.end_line)) ==
      Seq(("hash_mix", 1, 4)))
    // a doc-comment continuation line must never head-join
    val j = Seq("public class D {", "    /**", "     * Does things",
      "     */", "    public void go() {", "    }", "}").mkString("\n")
    assert(Chunker.chunkFile("D.java", "java", j).map(_.name) == Seq("D", "go"))
  }

  test("nested functions become their own chunks") {
    val py = "def a(x):\n    def b(y):\n        return y\n    return b(x)\n"
    assert(Chunker.chunkFile("n.py", "python", py)
      .map(ch => (ch.name, ch.start_line, ch.end_line)) ==
      Seq(("a", 1, 4), ("b", 2, 3)))
    val js = "function f() {\n  function g() {\n    return 1;\n  }\n  return g();\n}\n"
    assert(Chunker.chunkFile("f.js", "javascript", js).map(_.name) ==
      Seq("f", "g"))
  }

  test("doc above annotations survives; annotation lines are not doc") {
    val j = Seq("public class K {", "    /** Doc. */", "    @Deprecated",
      "    @SuppressWarnings(\"x\")", "    public void go() {", "    }",
      "}").mkString("\n")
    val fn = Chunker.chunkFile("K.java", "java", j).find(_.name == "go").get
    assert(fn.doc == "Doc." && fn.start_line == 5)
    val rs = "/// Doc line.\n#[derive(Clone)]\npub struct S {\n    a: u32,\n}\n"
    val st = Chunker.chunkFile("s.rs", "rust", rs).head
    assert(st.doc == "Doc line." && st.start_line == 3)
  }

  test("doc above MULTI-LINE decorators/attributes survives (py, rust, csharp)") {
    val py = Seq("# Lists things.", "@app.route(", "    \"/x\",",
      "    methods=[\"GET\"],", ")", "def lister(req):", "    return req")
      .mkString("\n")
    val pf = Chunker.chunkFile("a.py", "python", py).find(_.name == "lister").get
    assert(pf.doc == "Lists things.")
    val rs = Seq("/// Emits a sample.", "#[cfg(", "    feature = \"telemetry\"",
      ")]", "fn emit_metric() {", "}").mkString("\n")
    val rf = Chunker.chunkFile("m.rs", "rust", rs).find(_.name == "emit_metric").get
    assert(rf.doc == "Emits a sample.")
    val cs = Seq("public class A {", "    /** Runs it. */", "    [Obsolete(",
      "        \"use RunFast\"", "    )]", "    public void Run() {", "    }",
      "}").mkString("\n")
    val cf = Chunker.chunkFile("A.cs", "csharp", cs).find(_.name == "Run").get
    assert(cf.doc == "Runs it.")
    // an unbalanced opener is NOT an annotation block: the scan stops
    val bad = Seq("# Doc.", "@route(", "    \"/x\",", "def f(r):", "    return r")
      .mkString("\n")
    val bf = Chunker.chunkFile("b.py", "python", bad).find(_.name == "f").get
    assert(bf.doc == "")
    // a balanced unrelated statement between an attribute block and the
    // signature terminates the scan — the doc belongs to the statement,
    // and the pass-through must not tunnel past it (closing line must
    // itself close a bracket)
    val tun = Seq("/// doc for the const", "#[cfg(",
      "    feature = \"x\"", ")]", "const N: u32 = 1;", "fn g() {}")
      .mkString("\n")
    val tf = Chunker.chunkFile("t.rs", "rust", tun).find(_.name == "g").get
    assert(tf.doc == "")
  }

  test("signatureText joins multi-line signatures; paren-less languages do not join") {
    val ch = Chunker.chunkFile("M.java", "java", Seq("public class M {",
      "    private", "    static", "    ResponseKit",
      "    assemble(RequestKit req,", "             CacheKit cache) {",
      "        return cache.merge(req);", "    }", "}").mkString("\n"))
    val refs = ch.filter(_.chunk_type == "function").flatMap(Chunker.typeRefs)
    assert(refs.map(r => (r.type_name, r.edge_kind)).toSet ==
      Set(("RequestKit", "param"), ("CacheKit", "param"), ("ResponseKit", "return")))
    // elm: '(' first appears in the BODY — sig must stay the first line
    val elm = Seq("view model =", "    div [] [ text (fmt model) ]").mkString("\n")
    val ef = Chunker.chunkFile("V.elm", "elm", elm).head
    assert(Chunker.typeRefs(ef).isEmpty)
  }

  test("angle join: shift default args and operator<< do not open phantom depth") {
    // `1 << 4` would count +2 angle depth under blind counting and
    // swallow body lines into the signature (then typeRefs sees body
    // text); nested-template closers `>>` must still close two
    val cpp = Seq(
      "void init(unsigned mask = 1 << 4) {",
      "    Engine e;",
      "    e.start(mask);",
      "}",
      "std::ostream& operator<<(std::ostream& os, const Widget& w) {",
      "    return os << w.name;",
      "}",
      "void fill(std::map<int, std::vector<Pod>> rows) {",
      "    rows.clear();",
      "}").mkString("\n")
    val ch = Chunker.chunkFile("w.cpp", "cpp", cpp)
    val byName = ch.filter(_.chunk_type == "function")
      .map(c => c.name -> c).toMap
    assert(byName.keySet == Set("init", "operator<<", "fill") ||
      byName.keySet == Set("init", "fill"), s"got ${byName.keySet}")
    // the signature is the single physical line — no body swallowed
    assert(Chunker.signatureText(byName("init")).trim ==
      "void init(unsigned mask = 1 << 4) {")
    assert(Chunker.signatureText(byName("fill")).trim ==
      "void fill(std::map<int, std::vector<Pod>> rows) {")
    // body-local type names must NOT leak into init's param edges
    assert(!Chunker.typeRefs(byName("init"))
      .exists(_.type_name == "Engine"))
  }

  test("nested spans nest strictly at any depth (property)") {
    for (depth <- 1 to 6) {
      val py = (0 to depth).map(d => "    " * d + s"def f$d(x):").mkString("\n") +
        "\n" + "    " * (depth + 1) + "return x\n"
      val chunks = Chunker.chunkFile("n.py", "python", py)
      assert(chunks.map(_.name) == (0 to depth).map(d => s"f$d"))
      chunks.sliding(2).foreach {
        case Seq(outer, inner) =>
          assert(inner.start_line >= outer.start_line &&
            inner.end_line <= outer.end_line,
            s"depth $depth: ${inner.name} not inside ${outer.name}")
        case _ =>
      }
      val js = (0 to depth).map(d => "  " * d + s"function g$d() {").mkString("\n") +
        "\n" + "  " * (depth + 1) + "return 1;\n" +
        (depth to 0 by -1).map(d => "  " * d + "}").mkString("\n") + "\n"
      assert(Chunker.chunkFile("n.js", "javascript", js).map(_.name) ==
        (0 to depth).map(d => s"g$d"))
    }
  }

  test("malformed input never throws; spans stay within file bounds") {
    val cases = Seq(
      ("u.c", "c", "int f(\n    int a,\n"),                  // unclosed paren at EOF
      ("u.java", "java", "public class A {\n  public void g() {\n"), // unclosed braces
      ("u.py", "python", "def f(:\n   \t weird\n "),      // junk bytes
      ("u.rs", "rust", "pub fn x() -> { let s = \"unterminated"),    // unterminated string
      ("u.cu", "cuda", "static unsigned\n"))                 // head-join hits EOF
    cases.foreach { case (o, l, c) =>
      val chunks = Chunker.chunkFile(o, l, c)
      val n = c.split("\n", -1).length
      chunks.foreach { ch =>
        assert(ch.start_line >= 1 && ch.end_line <= n && ch.start_line <= ch.end_line,
          s"$o: span ${ch.start_line}-${ch.end_line} outside 1-$n")
      }
    }
  }

  test("whole fixture corpus chunks exactly to the q48 golden (JVM-local)") {
    // the same parity q48 proves through the DuckDB gate, but in-JVM
    // for fast iteration when adding packs or fixtures (webhelp sites
    // merge before the parse, exactly like the distributed path)
    val got = graft.parser.WebhelpConvert.mergeSitesLocal(
      graft.parser.CodeFixtures.files).flatMap { case (o, l, c) =>
      Chunker.chunkFile(o, l, c)
        .map(ch => (ch.origin, ch.language, ch.chunk_type, ch.name,
          ch.start_line, ch.end_line, ch.doc))
    }.sorted
    val want = graft.queries.CodeQ.golden.sorted
    assert(got == want, s"\nextra=${got.diff(want)}\nmissing=${want.diff(got)}")
  }

  test("l5x extraction: CDATA regions, routine fallback names, st functions") {
    val l5x = graft.parser.CodeFixtures.files
      .find(_._1 == "fixtures/pump.l5x").get._3
    val chunks = Chunker.chunkFile("p.l5x", "l5x", l5x)
    assert(chunks.map(_.name) == Seq("PumpControl", "Scale"))
    // the ST-parsed region keeps file-lifted line numbers
    val scale = chunks.find(_.name == "Scale").get
    assert(scale.start_line == 18 && scale.end_line == 20)
    // content is the raw-file line slice (call attribution depends on it)
    assert(scale.content.startsWith("FUNCTION Scale"))
  }

  test("token-storm line cap skips the file deterministically") {
    val storm = Array.fill(Chunker.MaxFileLines + 1)("def f(x):").mkString("\n")
    assert(Chunker.chunkFile("storm.py", "python", storm).isEmpty)
    val ok = "def f(x):\n    return x\n"
    assert(Chunker.chunkFile("ok.py", "python", ok).nonEmpty)
  }

  test("aspx extraction delegates to the directive language") {
    val vb = Seq("<%@ Page Language=\"VB\" %>",
      "<script runat=\"server\">", "Sub Go()", "  Helper()", "End Sub",
      "</script>").mkString("\n")
    val cs = Seq("<%@ Page Language=\"C#\" %>",
      "<script runat=\"server\">",
      "public void Go() {", "  Helper();", "}",
      "</script>").mkString("\n")
    assert(Chunker.chunkFile("a.aspx", "aspx", vb).map(_.name) == Seq("Go"))
    assert(Chunker.chunkFile("b.aspx", "aspx", cs).map(_.name) == Seq("Go"))
  }

  test("xml sections: tags inside comments and CDATA do not desync depth") {
    val src = Seq(
      "<catalog>",
      "  <!-- a commented-out element:",
      "  <book>",
      "    <title>ghost</title>",
      "  </book> -->",
      "  <book>",
      "    <blurb><![CDATA[text with <fake> and </book> inside]]></blurb>",
      "  </book>",
      "  <meta/>",
      "</catalog>").mkString("\n")
    val chunks = Chunker.chunkFile("c.xml", "xml", src)
    assert(chunks.map(c => (c.name, c.start_line, c.end_line)) ==
      Seq(("book", 6, 8), ("meta", 9, 9)),
      s"got ${chunks.map(c => (c.name, c.start_line, c.end_line))}")
  }

  test("doc scan: '# if ...' doc lines survive in hash-comment languages") {
    val py = Seq(
      "# if the cache is cold, rebuild it",
      "# include retries on failure",
      "def rebuild(c):",
      "    return c").mkString("\n")
    val got = Chunker.chunkFile("a.py", "python", py).head.doc
    assert(got == "if the cache is cold, rebuild it include retries on failure",
      s"got '$got'")
    // ...while real preprocessor lines still terminate the scan in C
    val c = Seq(
      "#include <stdio.h>",
      "static int go(int x) {",
      "  return x;",
      "}").mkString("\n")
    assert(Chunker.chunkFile("a.c", "c", c).head.doc == "")
  }

  test("field extraction: NameFirst strips pub prefixes, TypeFirst takes last token") {
    import graft.parser.Fields
    val rust = Seq("pub struct Config {", "    pub retries: u32,",
      "    pub(crate) name: String,", "    // comment", "}").mkString("\n")
    assert(Fields.fieldNames("rust", rust) == Seq("retries", "name"))
    val java = Seq("class Box {", "  private int maxSize;",
      "  public static final String DEFAULT_NAME = \"x\";",
      "  @Override", "}").mkString("\n")
    assert(Fields.fieldNames("java", java) == Seq("max size", "default name"))
    assert(Fields.fieldNames("python", rust).isEmpty) // no style -> none
  }

  test("q82 overlay parse set chunks exactly to its golden spans") {
    val got = graft.queries.CodeQ.overlayDeltaFiles.flatMap {
      case (o, l, c) => Chunker.chunkFile(o, l, c)
    }.map(c => (c.origin, c.language, c.chunk_type, c.name,
      c.start_line, c.end_line, c.doc))
    assert(got == graft.queries.CodeQ.overlayGolden,
      s"overlay chunks drifted from golden:\n${got.mkString("\n")}")
  }

  test("deep modifier stacks and comment-interleaved signatures chunk + type-ref") {
    val depot = graft.parser.CodeFixtures.files
      .find(_._1 == "fixtures/Depot.java").get
    val chunks = Chunker.chunkFile(depot._1, depot._2, depot._3)
    val spans = chunks.map(c => (c.chunk_type, c.name, c.start_line, c.end_line))
    // 4-deep one-modifier-per-line head (beyond the former 3-line cap)
    assert(spans.contains(("function", "assembleIndex", 4, 13)), spans.toString)
    // whole comment line between return type and name
    assert(spans.contains(("function", "openRegistry", 15, 20)), spans.toString)
    // block comment SPANNING lines inside the signature
    assert(spans.contains(("function", "openFallback", 22, 28)), spans.toString)
    // comments inside the parameter list neither break the join nor
    // leak into the extracted type edges
    val refs = chunks.flatMap(Chunker.typeRefs)
      .map(r => (r.chunk_name, r.type_name, r.edge_kind)).toSet
    assert(refs.contains(("assembleIndex", "Map", "return")))
    assert(refs.contains(("assembleIndex", "Registry", "param")))
    assert(refs.contains(("openRegistry", "Registry", "return")))
    assert(refs.contains(("openFallback", "Registry", "return")))
    // rust variant: detection is single-line (keyword fn) but the
    // LOGICAL signature joins across the comment-interleaved params
    val rust = graft.parser.CodeFixtures.files
      .find(_._1 == "fixtures/app.rs").get
    val rrefs = Chunker.chunkFile(rust._1, rust._2, rust._3)
      .flatMap(Chunker.typeRefs)
      .map(r => (r.chunk_name, r.type_name, r.edge_kind)).toSet
    assert(rrefs.contains(("compose_report", "Config", "param")))
    assert(rrefs.contains(("compose_report", "String", "param")))
    assert(rrefs.contains(("compose_report", "Config", "return")))
  }

  test("exotic nesting: split generic bounds, lambda decorators, template heads") {
    def fileChunks(name: String) = {
      val f = graft.parser.CodeFixtures.files.find(_._1 == name).get
      Chunker.chunkFile(f._1, f._2, f._3)
    }
    // rust: the generic bound's parens close before the parameter list
    // opens; the angle-depth join keeps the LOGICAL signature whole, so
    // param/return edges come from the full joined text
    val rs = fileChunks("fixtures/generic.rs")
    assert(rs.map(c => (c.name, c.start_line, c.end_line, c.doc)) ==
      Seq(("map_blobs", 2, 10, "Applies a fallible blob transform to every item.")))
    val rrefs = rs.flatMap(Chunker.typeRefs)
      .map(r => (r.type_name, r.edge_kind)).toSet
    assert(rrefs == Set(("F", "param"), ("Result", "return")), rrefs.toString)
    // python: the doc scan tunnels through a multi-line decorator whose
    // argument is a lambda (colon + inner call inside the parens)
    val py = fileChunks("fixtures/guarded.py")
    assert(py.map(c => (c.name, c.start_line, c.end_line, c.doc)) ==
      Seq(("fetch_guarded", 7, 8, "Maps each row through a guarded fetch.")))
    // cpp: template heads (multi-line with an interior block comment,
    // and single-line) are pass-through metadata, not doc terminators
    val cpp = fileChunks("fixtures/matrix.cpp")
    assert(cpp.map(c => (c.name, c.doc)) == Seq(
      ("project_row", "Projects one row through a functor."),
      ("identity_row", "Identity fallback.")))
    val crefs = cpp.flatMap(Chunker.typeRefs)
      .map(r => (r.chunk_name, r.type_name, r.edge_kind)).toSet
    assert(crefs == Set(
      ("project_row", "T", "param"), ("project_row", "F", "param"),
      ("project_row", "T", "return"),
      ("identity_row", "T", "param"), ("identity_row", "T", "return")), crefs.toString)
  }

  test("fuzz-found goldens: qualified generic returns, multi-param templates, nested bounds") {
    // the three ChunkerFuzzSpec finds of round 8, pinned as fixtures
    // java: FULLY-QUALIFIED generic return type on its own line
    // (split-modifier head-join) — the signature char classes must
    // admit dotted type names
    val j = Chunker.chunkFile("A.java", "java",
      """public class A {
        |    public static
        |    java.util.Map<String, Integer>
        |    tally(int a,
        |          int b) {
        |        return null;
        |    }
        |}
        |""".stripMargin)
    assert(j.map(c => (c.chunk_type, c.name)) ==
      Seq(("class", "A"), ("function", "tally")), j.map(_.name).toString)
    // cpp: templated return type whose argument list carries a comma +
    // space (std::map<int, int>) — the type token spans the angles
    val c = Chunker.chunkFile("m.cpp", "cpp",
      """static std::map<int, int> histo(uint32_t a, uint32_t b) {
        |    return {};
        |}
        |static std::vector<std::pair<int, int>>* pairs_of(int n) {
        |    return nullptr;
        |}
        |""".stripMargin)
    assert(c.map(_.name) == Seq("histo", "pairs_of"), c.map(_.name).toString)
    // kotlin: NESTED generic bound before the name (<T : Comparable<T>>)
    // — a first-close match strands the scanner mid-bound
    val k = Chunker.chunkFile("s.kt", "kotlin",
      """private suspend fun <T : Comparable<T>> maxOf3(a: T, b: T, c: T): T {
        |    return a
        |}
        |""".stripMargin)
    assert(k.map(c => (c.chunk_type, c.name)) == Seq(("function", "maxOf3")),
      k.toString)
  }

  test("commented-out code neither chunks nor closes the enclosing body") {
    // r10 fuzz campaign finds, pinned: decoy definitions inside block
    // comments / doc strings must not emit chunks, and a dedented `end`
    // inside one must not close the enclosing body early
    val lua = Chunker.chunkFile("a.lua", "lua",
      "function f(a)\n  local x = 1\n--[[\nend\n]]\n  local sent = 7\n  return a\nend\n")
    assert(lua.map(c => (c.name, c.start_line, c.end_line)) == Seq(("f", 1, 8)),
      lua.toString)
    assert(lua.head.content.contains("sent"))
    val lua2 = Chunker.chunkFile("a.lua", "lua",
      "--[[\nfunction decoy(a)\nend\n]]\nfunction real(a)\n  return a\nend\n")
    assert(lua2.map(_.name) == Seq("real"), lua2.toString)
    val jl = Chunker.chunkFile("a.jl", "julia",
      "function f(a)\n    x = 1\n#=\nend\n=#\n    sent = 7\n    return a\nend\n")
    assert(jl.map(c => (c.name, c.end_line)) == Seq(("f", 8)), jl.toString)
    val rs = Chunker.chunkFile("a.rs", "rust",
      "/*\npub fn decoy(a: u32) -> u32 {\n}\n*/\npub fn real(a: u32) -> u32 {\n    a\n}\n")
    assert(rs.map(_.name) == Seq("real"), rs.toString)
    val ex = Chunker.chunkFile("a.ex", "elixir",
      "defmodule M do\n  @doc \"\"\"\n  def decoy(a) do\n  end\n  \"\"\"\n  def real(a) do\n    a\n  end\nend\n")
    assert(ex.map(c => (c.chunk_type, c.name)) ==
      Seq(("class", "M"), ("function", "real")), ex.toString)
    val rb = Chunker.chunkFile("a.rb", "ruby",
      "def f(a)\n  x = 1\n=begin\nend\n=end\n  sent = 7\n  a\nend\n")
    assert(rb.map(c => (c.name, c.end_line)) == Seq(("f", 8)), rb.toString)
    val pl = Chunker.chunkFile("a.pl", "perl",
      "=pod\nsub decoy {\n}\n=cut\nsub real {\n    return 1;\n}\n")
    assert(pl.map(_.name) == Seq("real"), pl.toString)
    // python: a col-0 docstring after a def legitimately ENDS the def
    // (indent semantics) — the pin here is only that the decoy inside
    // the module docstring never chunks
    val py = Chunker.chunkFile("a.py", "python",
      "\"\"\"\ndef decoy(q):\n    return q\n\"\"\"\ndef f(a):\n    sent = 7\n    return a\n")
    assert(py.map(c => (c.name, c.end_line)) == Seq(("f", 7)), py.toString)
    // STRING-content regions are the same hazard as comments: a
    // definition-shaped line inside a scala/kotlin triple-quoted
    // string (embedded SQL — this repo's own oracle strings are the
    // canonical case) must not chunk, and a julia """ / ruby heredoc
    // body must not close the enclosing function at a dedented end
    val sc = Chunker.chunkFile("a.scala", "scala",
      "object Q {\n  val sql = \"\"\"\ndef decoy(x):\n    return x\n\"\"\"\n  def real(a: Int): Int = {\n    a\n  }\n}\n")
    assert(sc.map(c => (c.chunk_type, c.name)) ==
      Seq(("class", "Q"), ("function", "real")), sc.toString)
    val kt = Chunker.chunkFile("a.kt", "kotlin",
      "val q = \"\"\"\nfun decoy(x: Int): Int {\n\"\"\"\nfun real(a: Int): Int {\n    return a\n}\n")
    assert(kt.map(_.name) == Seq("real"), kt.toString)
    val jl3 = Chunker.chunkFile("b.jl", "julia",
      "function f(a)\n    s = \"\"\"\nend\n\"\"\"\n    sent = 7\n    return a\nend\n")
    assert(jl3.map(c => (c.name, c.end_line)) == Seq(("f", 7)), jl3.toString)
    val rb2 = Chunker.chunkFile("b.rb", "ruby",
      "def f(a)\n  s = <<~EOS\ndef decoy(q)\nend\nEOS\n  sent = 7\n  a\nend\n")
    assert(rb2.map(c => (c.name, c.end_line)) == Seq(("f", 8)), rb2.toString)
    // js/ts template literals and python's OTHER triple-quote spelling
    val js2 = Chunker.chunkFile("a.js", "javascript",
      "const q = `\nfunction decoy(a) {\n`;\nfunction real(a) {\n  return a;\n}\n")
    assert(js2.map(_.name) == Seq("q", "real"), js2.toString)
    val ts2 = Chunker.chunkFile("a.ts", "typescript",
      "const t = `\nexport class Decoy {\n`;\nexport class Real {\n}\n")
    assert(ts2.map(_.name) == Seq("t", "Real"), ts2.toString)
    val py3 = Chunker.chunkFile("b.py", "python",
      "q = '''\ndef decoy(a):\n    return a\n'''\ndef real(a):\n    return a\n")
    assert(py3.map(_.name) == Seq("real"), py3.toString)
    // a ''' INSIDE a \"\"\" region is content, not a closer
    val py4 = Chunker.chunkFile("c.py", "python",
      "q = \"\"\"\n''' not a closer\ndef decoy(a):\n    return a\n\"\"\"\ndef real(a):\n    return a\n")
    assert(py4.map(_.name) == Seq("real"), py4.toString)
    // paired backticks on one line are a no-op (JSDoc code spans)
    val js3 = Chunker.chunkFile("b.js", "javascript",
      "// see `opt` above\nfunction real(a) {\n  return a;\n}\n")
    assert(js3.map(_.name) == Seq("real"), js3.toString)
    // go raw strings, rust r#-raw, csharp verbatim, C-family R"(
    val go2 = Chunker.chunkFile("a.go", "go",
      "package m\n\nvar q = `\nfunc decoy(a int) int {\n`\n\nfunc real(a int) int {\n\treturn a\n}\n")
    // the var HOLDER chunks since r11 (span runs to the raw-string
    // region close); the decoy inside stays masked
    assert(go2.map(c => (c.chunk_type, c.name, c.start_line, c.end_line)) ==
      Seq(("variable", "q", 3, 5), ("function", "real", 7, 9)), go2.toString)
    // r11: the const HOLDER is itself a chunk (constant, spanning to
    // the region closer's `;`); the decoy inside stays masked
    val rs2 = Chunker.chunkFile("b.rs", "rust",
      "const Q: &str = r#\"\npub fn decoy(a: u32) -> u32 {\n\"#;\npub fn real(a: u32) -> u32 {\n    a\n}\n")
    assert(rs2.map(c => (c.chunk_type, c.name, c.start_line, c.end_line)) ==
      Seq(("constant", "Q", 1, 3), ("function", "real", 4, 6)), rs2.toString)
    val cs2 = Chunker.chunkFile("b.cs", "csharp",
      "public class C {\n    string q = @\"\n    public int Decoy(int a) {\n    \";\n    public int Real(int a) {\n        return a;\n    }\n}\n")
    assert(cs2.map(c => (c.chunk_type, c.name)) ==
      Seq(("class", "C"), ("function", "Real")), cs2.toString)
    val cp2 = Chunker.chunkFile("b.cpp", "cpp",
      "const char* q = R\"(\nint decoy(int a) {\n)\";\nint real(int a) {\n    return a;\n}\n")
    assert(cp2.map(_.name) == Seq("real"), cp2.toString)
    // self-contained one-liners of the asymmetric forms are no-ops
    val cs3 = Chunker.chunkFile("c.cs", "csharp",
      "public class D {\n    string s = @\"one liner\";\n    public int Run(int a) {\n        return a;\n    }\n}\n")
    assert(cs3.map(_.name) == Seq("D", "Run"), cs3.toString)
    // a one-line triple-quoted string is a no-op; shift-left with a
    // spaced operand never reads as a heredoc
    val sc2 = Chunker.chunkFile("c.scala", "scala",
      "object P {\n  val s = \"\"\"one liner\"\"\"\n  def g(a: Int): Int = {\n    a\n  }\n}\n")
    assert(sc2.map(_.name) == Seq("P", "g"), sc2.toString)
    val rb3 = Chunker.chunkFile("c.rb", "ruby",
      "def f(a)\n  arr << ABC\n  sent = 7\n  a\nend\n")
    assert(rb3.map(c => (c.name, c.end_line)) == Seq(("f", 5)), rb3.toString)
    // java text blocks (JEP 378): a decoy method inside one is content
    val jv = Chunker.chunkFile("S.java", "java",
      "public class S {\n    String q = \"\"\"\n        public int decoyInBlock(int x) {\n            return x;\n        }\n        \"\"\";\n    public int real(int x) {\n        return x;\n    }\n}\n")
    assert(jv.map(_.name).toSet == Set("S", "real"), jv.toString)
    // csharp C#11 raw strings and the @$"…" interpolated-verbatim
    // spelling mask like @"…" (a $@"…" matched already via @")
    val cs4 = Chunker.chunkFile("d.cs", "csharp",
      "public class T {\n    string a = @$\"multi\npublic int DecoyVerbatim(int x) {\n}\n\";\n    string b = \"\"\"\npublic int DecoyRaw(int x) {\n}\n\"\"\";\n    public int Real(int x) {\n        return x;\n    }\n}\n")
    assert(cs4.map(_.name).toSet == Set("T", "Real"), cs4.toString)
    // groovy's triple-SINGLE string is the same region as its """
    val gv = Chunker.chunkFile("a.groovy", "groovy",
      "def q = " + "'" * 3 + "\ndef decoy(x) {\n}\n" + "'" * 3 + "\ndef real(x) {\n    return x\n}\n")
    assert(gv.map(_.name) == Seq("real"), gv.toString)
    // tier-3 masks: ocaml/fsharp paren-star, matlab percent-brace
    val ml = Chunker.chunkFile("a.ml", "ocaml",
      "(* commented out:\nlet decoy q = q\n*)\n\nlet real a = a\n")
    assert(ml.map(_.name) == Seq("real"), ml.toString)
    val fs = Chunker.chunkFile("a.fs", "fsharp",
      "(* commented out:\nlet decoy q = q\n*)\nlet real a =\n    a\n")
    assert(fs.map(_.name) == Seq("real"), fs.toString)
    val mt = Chunker.chunkFile("a.m", "matlab",
      "function out = f(a)\n  x = 1;\n%{\nend\n%}\n  sent = 7;\n  out = a;\nend\n")
    assert(mt.map(c => (c.name, c.end_line)) == Seq(("f", 8)), mt.toString)
  }

  test("string regions across the long-tail packs: heredocs, here-strings, " +
    "long strings, raw strings, triple-quotes") {
    def names(fn: String, lang: String, src: String): Set[String] =
      Chunker.chunkFile(fn, lang, src).map(_.name).toSet
    // php heredoc + nowdoc (closer may carry the semicolon)
    assert(names("a.php", "php",
      "<?php\nfunction real($a) {\n    return $a;\n}\n$q = <<<EOT\nfunction decoy($x) {\n}\nEOT;\n$r = <<<'EOT'\nfunction decoy2($x) {\n}\nEOT;\n")
      == Set("real"))
    // swift multiline string
    assert(names("a.swift", "swift",
      "let q = \"\"\"\nfunc decoy(x: Int) -> Int {\n\"\"\"\nfunc real(a: Int) -> Int {\n    return a\n}\n")
      == Set("real"))
    // dart: BOTH triple-quote spellings
    assert(names("a.dart", "dart",
      "var q = \"\"\"\nint decoy(int x) {\n\"\"\";\nint real(int a) {\n  return a;\n}\n")
      == Set("real"))
    assert(names("b.dart", "dart",
      "var q = " + "'" * 3 + "\nint decoy(int x) {\n" + "'" * 3 + ";\nint real(int a) {\n  return a;\n}\n")
      == Set("real"))
    // powershell here-strings, both quotings; @() array is a no-op
    assert(names("a.ps1", "powershell",
      "$q = @\"\nfunction Decoy($x) {\n}\n\"@\nfunction Real($a) {\n    return $a\n}\n")
      == Set("Real"))
    assert(names("b.ps1", "powershell",
      "$q = @'\nfunction Decoy2($x) {\n}\n'@\nfunction Real2($a) {\n    return $a\n}\n")
      == Set("Real2"))
    assert(names("c.ps1", "powershell",
      "$a = @(\"x\", \"y\")\nfunction Real($b) {\n    return $b\n}\n")
      == Set("Real"))
    // perl heredoc with a QUOTED tag (string-blanking must not hide
    // the tag); spaced shift operands never open
    assert(names("a.pl", "perl",
      "my $q = <<\"EOF\";\nsub decoy {\n}\nEOF\nsub real {\n    return 1;\n}\n")
      == Set("real"))
    assert(names("b.pl", "perl",
      "my $x = $a << $b;\nsub real {\n    return 1;\n}\n")
      == Set("real"))
    // shell heredoc; the <<< herestring is one-line and never opens
    assert(names("a.sh", "shell",
      "cat <<EOF\nfunction decoy() {\n}\nEOF\nfunction real() {\n    echo hi\n}\n")
      == Set("real"))
    assert(names("b.sh", "shell",
      "grep foo <<<EOF\nfunction real() {\n    echo hi\n}\n")
      == Set("real"))
    // a heredoc opener QUOTED IN A STRING never shadows the real
    // opener later on the same line
    assert(names("d.rb", "ruby",
      "def f(a)\n  x = \"use <<FOO here\"; y = <<~EOS\ndef hdecoy3(q)\nend\nEOS\n  a\nend\n")
      == Set("f"))
    // heredoc opener quoted in a line comment never opens
    assert(names("b.php", "php",
      "<?php\n// example: $q = <<<EOT\nfunction real($a) {\n    return $a;\n}\n")
      == Set("real"))
    // lua long strings (one-liners are no-ops)
    assert(names("a.lua", "lua",
      "local q = [[\nfunction decoy(x)\nend\n]]\nfunction real(a)\n    return a\nend\n")
      == Set("real"))
    assert(names("b.lua", "lua",
      "local s = [[one line]]\nfunction real(a)\n    return a\nend\n")
      == Set("real"))
    // R raw strings
    assert(names("a.r", "r",
      "q <- r\"(\ndecoy <- function(x) {\n)\"\nreal <- function(a) {\n    a\n}\n")
      == Set("real"))
    // ocaml quoted strings mask; fsharp anonymous records (same
    // braces-pipe spelling) are REAL CODE and must not mask
    assert(names("a.ml", "ocaml",
      "let q = {|\nlet decoy x = x\n|}\n\nlet real a = a\n")
      == Set("q", "real"))
    assert(names("a.fs", "fsharp",
      "let mk a =\n    {| X = a\n       Y = a |}\n\nlet real a =\n    a\n")
      == Set("mk", "real"))
    // elixir charlist heredoc; elm triple-quote
    assert(names("a.ex", "elixir",
      "defmodule M do\n  @q " + "'" * 3 + "\n  def decoy(x) do\n  end\n  " + "'" * 3 + "\n  def real(a) do\n    a\n  end\nend\n")
      == Set("M", "real"))
    // graphql block-string descriptions quote type shapes
    assert(names("a.graphql", "graphql",
      "\"\"\"\ntype Decoy {\n  id: ID\n}\n\"\"\"\ntype Real {\n  id: ID\n}\n")
      == Set("Real"))
    // makefile define…endef bodies are variable content, not rules;
    // `defines = x` and tab-indented recipe lines never open
    assert(names("Makefile", "makefile",
      "define script\ndecoy:\n\techo decoy\nendef\n\ndefines = x\n\nreal:\n\techo real\n")
      == Set("real"))
    // sql: a multi-line '…' string masks its content; doubled-quote
    // escapes are content; balanced one-liners are no-ops
    assert(names("c.sql", "sql",
      "INSERT INTO t VALUES ('\nCREATE TABLE decoy (id INT);\n');\nCREATE TABLE real_t (id INT);\n")
      == Set("real_t"))
    assert(names("d.sql", "sql",
      "INSERT INTO t VALUES ('it''s\nCREATE TABLE decoy2 (id INT);\n');\nCREATE TABLE real_u (id INT);\n")
      == Set("real_u"))
    assert(names("e.sql", "sql",
      "INSERT INTO t VALUES ('one line');\nCREATE TABLE real_v (id INT);\n")
      == Set("real_v"))
    assert(names("a.elm", "elm",
      "q : String\nq = \"\"\"\ndecoy a =\n    a\n\"\"\"\n\nreal : Int -> Int\nreal a =\n    a\n")
      == Set("q", "real"))
  }

  test("c backslash-continued strings mask; macro continuations do not") {
    def names(fn: String, lang: String, src: String): Set[String] =
      Chunker.chunkFile(fn, lang, src).map(_.name).toSet
    // string continued by a trailing backslash: body is content
    assert(names("a.c", "c",
      "const char* s = \"line1 \\\nint decoy(int x) {\\\nline3\";\nint real(int a) {\n    return a;\n}\n")
      == Set("real"))
    // multi-line macro (even quote count): body is code, not content
    assert(names("b.c", "c",
      "#define CHECK(x) \\\n    do { if (!(x)) fail(); } while (0)\nint real3(int a) {\n    return a;\n}\n")
      == Set("real3"))
    // balanced string + arithmetic continuation: never opens
    assert(names("c.c", "c",
      "const char* t = \"done\"; int y = 1 + \\\n    2;\nint real4(int a) {\n    return a;\n}\n")
      == Set("real4"))
    // an ESCAPED quote inside the unclosed string keeps the raw
    // count even — the escape-aware parity must still detect the
    // continuation (r11 advice: `\"say \\\" hi \` leaked a decoy)
    assert(names("d.c", "c",
      "const char* s = \"say \\\" hi \\\nint decoy5(int x) {\\\nend\";\nint real5(int a) {\n    return a;\n}\n")
      == Set("real5"))
    // balanced string CONTAINING an escaped quote + continuation:
    // three unescaped delimiters would be a false-open under naive
    // counting only if escapes were ignored — stays code
    assert(names("e.c", "c",
      "const char* u = \"a\\\"b\"; int z = 1 + \\\n    2;\nint real6(int a) {\n    return a;\n}\n")
      == Set("real6"))
  }

  test("r11 advice goldens: self-closing vb XML one-liners, spaced-shift " +
    "heredoc operands, regex return left boundary") {
    def names(fn: String, lang: String, src: String): Set[String] =
      Chunker.chunkFile(fn, lang, src).map(_.name).toSet
    // a self-closing XML literal one-liner is complete — it must NOT
    // open a region that masks the following Function
    assert(names("a.vb", "vb",
      "Module M\n    Dim x = <br/>\n    Function RealF(a As Integer) As Integer\n        Return a\n    End Function\nEnd Module\n")
      == Set("M", "RealF"))
    assert(names("b.vb", "vb",
      "Module N\n    Dim x = <thing attr=\"v\"/>\n    Function RealG(a As Integer) As Integer\n        Return a\n    End Function\nEnd Module\n")
      == Set("N", "RealG"))
    // the multi-line literal still opens (regression guard)
    assert(names("c.vb", "vb",
      "Module O\n    Dim x = <doc>\nFunction Decoy(a As Integer) As Integer\n</doc>\n    Function RealH(a As Integer) As Integer\n        Return a\n    End Function\nEnd Module\n")
      == Set("O", "RealH"))
    // a spaced shift with an unspaced operand is arithmetic: a digit
    // or close-paren before the whitespace run never opens a heredoc
    assert(names("a.rb", "ruby",
      "x = 1 <<OPT\ndef real(a)\n  a\nend\n") == Set("real"))
    assert(names("b.rb", "ruby",
      "y = f() <<MASK\ndef real2(a)\n  a\nend\n") == Set("real2"))
    assert(names("a.pl", "perl",
      "my $x = 1 <<OPT;\nsub real {\n    return 1;\n}\n") == Set("real"))
    // bareword receivers stay heredoc openers (the canonical perl /
    // shell spellings)
    assert(names("b.pl", "perl",
      "print <<EOS;\nsub hdecoy {\n}\nEOS\nsub real3 {\n    return 1;\n}\n")
      == Set("real3"))
    // js regex-literal start: `return /re/` is a regex (its interior
    // backtick is blanked, no phantom template region) — but an
    // identifier merely ENDING in "return" is division, and the
    // backtick in its operand is a REAL template opener
    assert(names("a.js", "javascript",
      "function realL(a) {\n  return /a `b/ + c;\n}\nfunction realM(x) {\n  return x;\n}\n")
      == Set("realL", "realM"))
    assert(names("b.js", "javascript",
      "var q = toreturn /a `b/ + c;\nfunction decoyD(x) {\n}\n`;\nfunction realK(a) {\n  return a;\n}\n")
      == Set("q", "realK"))
  }

  test("rust item extraction: const/static/typealias/macro chunk with " +
    "statement-end spans (r11)") {
    val cs = Chunker.chunkFile("i.rs", "rust",
      "pub const CAPS: [u32; 2] = [\n    1, 2,\n];\n\nstatic mut HITS: u64 = 0;\n\n/// Alias doc.\npub type Out = Result<u32, String>;\n\nmacro_rules! m {\n    ($x:expr) => { $x };\n}\n\nconst SQL: &str = r#\"\nSELECT 1;\nDELETE FROM t;\n\"#;\n\npub const fn not_a_const(a: u32) -> u32 {\n    a\n}\n")
    assert(cs.map(c => (c.chunk_type, c.name, c.start_line, c.end_line)) ==
      Seq(("constant", "CAPS", 1, 3), ("constant", "HITS", 5, 5),
        ("typealias", "Out", 8, 8), ("macro", "m", 10, 12),
        ("constant", "SQL", 14, 17),
        ("function", "not_a_const", 19, 21)), cs.toString)
    assert(cs.find(_.name == "Out").get.doc == "Alias doc.")
    // the SQL template's ;-final CONTENT lines never end the span —
    // only the region closer's trailing ; does
    assert(cs.find(_.name == "SQL").get.content.contains("DELETE FROM t;"))
  }

  test("python module constants: UPPER_SNAKE at column 0 chunk with " +
    "continuation-aware spans; lowercase/indented/augmented never (r11)") {
    val cs = Chunker.chunkFile("k.py", "python",
      "MAX = 3\nURL_V2 = (\n    \"https://x/\"\n    \"v2\"\n)\nDOC = \"\"\"\ndef decoy(q):\n    pass\n\"\"\"\nlower = 1\nCOUNT += 1\nX == 2\ndef real(a):\n    INNER = 5\n    return a\nclass C:\n    LEVEL = 2\n")
    assert(cs.map(c => (c.chunk_type, c.name, c.start_line, c.end_line)) ==
      Seq(("constant", "MAX", 1, 1), ("constant", "URL_V2", 2, 5),
        ("constant", "DOC", 6, 9),
        ("function", "real", 13, 15), ("class", "C", 16, 17)), cs.toString)
  }

  test("residual masking spellings pinned: rust r##### raws, csharp 4+-quote " +
    "raws, R bracket/dash raws, ocaml tagged strings, nix '' strings") {
    def names(fn: String, lang: String, src: String): Set[String] =
      Chunker.chunkFile(fn, lang, src).map(_.name).toSet
    // rust five-hash raw string: decoy fn inside is content (the const
    // holder itself chunks — r11 item extraction)
    val h5 = "#" * 5
    assert(names("a.rs", "rust",
      s"const Q: &str = r$h5\"\npub fn decoy_raw(x: u32) -> u32 {\n}\n\"$h5;\npub fn real_raw(a: u32) -> u32 {\n    a\n}\n")
      == Set("Q", "real_raw"))
    // csharp four-quote raw string
    assert(names("a.cs", "csharp",
      "public class R4 {\n    string q = \"\"\"\"\npublic int DecoyQ4(int x) {\n}\n\"\"\"\";\n    public int RealQ4(int x) {\n        return x;\n    }\n}\n")
      == Set("R4", "RealQ4"))
    // R raw strings: bracket form and the double-dash brace form
    assert(names("a.R", "r",
      "q <- r\"[\ndecoy_b <- function(x) {\n}\n]\"\nreal_b <- function(a) {\n  a\n}\n")
      == Set("real_b"))
    assert(names("b.R", "r",
      "q <- R\"--{\ndecoy_d <- function(x) {\n}\n}--\"\nreal_d <- function(a) {\n  a\n}\n")
      == Set("real_d"))
    // an UNDASHED close delimiter inside a dashed region is content
    assert(names("c.R", "r",
      "q <- r\"-(\ntext with )\" inside\ndecoy_e <- function(x) {\n}\n)-\"\nreal_e <- function(a) {\n  a\n}\n")
      == Set("real_e"))
    // ocaml tagged quoted string {sql| … |sql}: a col-0 let inside is
    // content; an untagged |} does not close the tagged region
    assert(names("a.ml", "ocaml",
      "let q = {sql|\nlet decoy_t x =\n  x\n|}\nstill |sql}\n\nlet real_t a =\n  a\n")
      == Set("q", "real_t"))
    // nix '' string: a col-0 binding inside is content; the four-quote
    // empty string and a balanced one-liner are no-ops
    assert(names("a.nix", "nix",
      "script = ''\ndecoy-bind = x: x;\n'';\nreal-bind = x: x;\n")
      == Set("script", "real-bind"))
    assert(names("b.nix", "nix",
      "empty = '''';\noneliner = ''echo hi'';\nreal-two = x: x;\n")
      == Set("empty", "oneliner", "real-two"))
    // the ''' escape inside a '' region does not close it
    assert(names("c.nix", "nix",
      "script = ''\nsay''' quoted\ndecoy-esc = x: x;\n'';\nreal-esc = x: x;\n")
      == Set("script", "real-esc"))
  }

  test("vb XML literal bodies are data: decoy masked, next function kept") {
    def names(src: String): Set[String] =
      Chunker.chunkFile("a.vb", "vb", src).map(_.name).toSet
    assert(names(
      "Module M\n    Dim x = <doc>\nFunction Decoy(q As Integer) As Integer\n</doc>\n    Function Real(a As Integer) As Integer\n        Return a\n    End Function\nEnd Module\n")
      == Set("M", "Real"))
    // attributes and less-than comparisons never open
    assert(names(
      "Module N\n    <Serializable()>\n    Function RealA(a As Integer) As Integer\n        Return a\n    End Function\n    Function RealB(b As Integer) As Integer\n        Return If(b < 2, 1, b)\n    End Function\nEnd Module\n")
      == Set("N", "RealA", "RealB"))
  }

  test("js/ts regex literals and rust char-literal position alignment") {
    def names(fn: String, lang: String, src: String): Set[String] =
      Chunker.chunkFile(fn, lang, src).map(_.name).toSet
    // a backtick inside a regex literal never opens a template region
    assert(names("a.js", "javascript",
      "const re = /`/;\nfunction real(a) {\n  return a;\n}\nfunction real2(a) {\n  return a;\n}\n")
      == Set("re", "real", "real2"))
    assert(names("a.ts", "typescript",
      "const re = /`+/g;\nexport function realT(a: number): number {\n  return a;\n}\n")
      == Set("re", "realT"))
    // division is NOT a regex: a real template opener after it masks
    assert(names("b.js", "javascript",
      "const a = b / c / d;\nconst t = `\nfunction decoy(a) {\n`;\nfunction real(a) {\n  return a;\n}\n")
      == Set("a", "t", "real"))
    // a return-position regex is recognized; a char class with quotes
    // is content; a REAL opener after the regex still masks
    assert(names("c.js", "javascript",
      "const re = /[`\"]/; const t = `\nfunction decoy(a) {\n`;\nfunction real(a) {\n  return a;\n}\n")
      == Set("re", "real"))
    assert(names("d.js", "javascript",
      "function f(s) {\n  return /`/.test(s);\n}\nfunction real(a) {\n  return a;\n}\n")
      == Set("f", "real"))
    // rust: a multi-char char literal BEFORE a string opener must not
    // shift the close search onto the opener itself (maskScanPrep is
    // position-preserving; the interior blanks, the width stays)
    assert(names("g.rs", "rust",
      "pub fn real() -> String {\n    let c = '\\u{41}'; let s = \"multi\nfn decoy_pos(q: u32) {\nend\".to_string();\n    s\n}\npub fn after(n: u32) -> u32 {\n    n\n}\n")
      == Set("real", "after"))
  }

  test("review-fix batch 2: comment-interior markers, unspaced shifts, " +
    "closer-line remainders, endef comments, php-only TAG; terminator") {
    def names(fn: String, lang: String, src: String): Set[String] =
      Chunker.chunkFile(fn, lang, src).map(_.name).toSet
    // an apostrophe / quoted marker inside a CLOSED block comment is
    // not code — the comment interior is blanked before the tq scan
    assert(names("a.sql", "sql",
      "/* don't */\nCREATE TABLE real_t (id INT);\n") == Set("real_t"))
    assert(names("b.java", "java",
      "public class S {\n    /* sample: \"\"\" marker */\n    public int real(int x) {\n        return x;\n    }\n}\n")
      == Set("S", "real"))
    // an UNCLOSED block-comment opener still opens the COMMENT region
    // (its trailing text is blanked, so no phantom string region)
    assert(names("c.sql", "sql",
      "/* don't start\nstill comment: CREATE TABLE decoy (id INT);\n*/\nCREATE TABLE real_u (id INT);\n")
      == Set("real_u"))
    // unspaced shift expressions never open heredocs
    assert(names("a.pl", "perl",
      "my $x = 1<<BITS;\nsub real {\n    return 1;\n}\n") == Set("real"))
    assert(names("a.sh", "shell",
      "x=$((1<<KB))\nfunction real() {\n    echo hi\n}\n") == Set("real"))
    // a trailing line comment on a string-closer line never reopens
    assert(names("d.sql", "sql",
      "INSERT INTO t VALUES ('\nmulti\n');  -- don't\nCREATE TABLE real_v (id INT);\n")
      == Set("real_v"))
    // make permits a comment after endef
    assert(names("Makefile", "makefile",
      "define script\ndecoy:\n\techo decoy\nendef # done\n\nreal:\n\techo real\n")
      == Set("real"))
    // only php terminates a heredoc at TAG; — for ruby it is content
    assert(names("a.rb", "ruby",
      "x = <<~EOS\nEOS;\ndef hdecoy(q)\nend\nEOS\ndef f(a)\n  a\nend\n")
      == Set("f"))
    assert(names("a.php", "php",
      "<?php\n$q = <<<EOT\nfunction decoy($x) {\n}\nEOT;\nfunction real($a) {\n    return $a;\n}\n")
      == Set("real"))
  }

  test("webhelp: content/ pages merge sorted with --- separators; " +
    "blank page skipped; frameset + assets subsumed") {
    import org.apache.spark.sql.functions.col
    val files = graft.parser.CodeFixtures.filesDf(spark)
    val out = graft.parser.WebhelpConvert.mergeSites(files)
    // exactly one merged site row; no raw help-site row survives
    // (fixtures/help.chm is a DIFFERENT fixture — excluded by the /)
    val helpRows = out.filter(col("origin").startsWith("fixtures/help/") ||
        col("origin") === "fixtures/help")
      .collect().toSeq
    assert(helpRows.map(r => (r.getString(0), r.getString(1))) ==
      Seq(("fixtures/help", "webhelp")), helpRows.toString)
    val merged = helpRows.head.getString(2)
    // pinned merged text: intro page before topics/setup (path sort),
    // ONE separator (the blank page converts empty and adds none),
    // entities decoded, tags gone
    assert(merged ==
      """# Help Overview
        |
        |This guide explains the indexing workflow & its moving parts.
        |
        |## Audience
        |
        |Written for operators who schedule corpus refreshes.
        |
        |---
        |
        |# Setup Steps
        |
        |Unpack the bundle.
        |
        |Point the walker at the corpus root.
        |
        |## Validation
        |
        |Confirm the page counts in the status view.""".stripMargin, merged)
    // non-site rows pass through untouched (count conservation)
    val rawCount = files.count()
    val helpRaw = files.filter(col("origin").startsWith("fixtures/help/")).count()
    assert(helpRaw == 5L) // frameset + 3 pages + css
    assert(out.count() == rawCount - helpRaw + 1)
    // chunk route: both small H1 sections collapse to the all-small
    // Document span over the full merged length
    val chunks = Chunker.chunkFile("fixtures/help", "webhelp", merged)
    assert(chunks.map(c =>
      (c.language, c.chunk_type, c.name, c.start_line, c.end_line)) ==
      Seq(("webhelp", "section", "Document", 1, 19)), chunks.toString)
    // detection negatives: html outside any content/ dir is untouched,
    // and a page directly under a root-level content/ has no site root
    import spark.implicits._
    val neg = Seq(
      ("docs/guide.html", "html", "<h1>A</h1>"),
      ("content/x.html", "html", "<h1>B</h1>"))
      .toDF("origin", "language", "content")
    val negOut = graft.parser.WebhelpConvert.mergeSites(neg)
    assert(negOut.orderBy(col("origin")).collect().map(_.getString(0)).toSeq ==
      Seq("content/x.html", "docs/guide.html"))
    // plan shape: subsumption is equi-join only — a startsWith theta
    // join here compiled to BroadcastNestedLoopJoin and went quadratic
    // at the 100x corpus probe (chunks 17.6 -> 83.8 s); the prefix
    // explode keeps it hash-joinable
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"webhelp subsumption regressed to a nested-loop shape:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("commentMask edges: one-liners are no-ops, mid-line openers keep their prefix") {
    // one-line block comment: no region opens, the next sig still found
    val a = Chunker.chunkFile("a.rs", "rust",
      "/* one-liner */\npub fn f(a: u32) -> u32 {\n    a\n}\n")
    assert(a.map(_.name) == Seq("f"), a.toString)
    // mid-line opener: the code prefix on the opener line keeps its
    // signature chance; the decoy on the next line is masked
    val b = Chunker.chunkFile("b.rs", "rust",
      "pub fn g(a: u32) -> u32 { /* trailing open\nfn decoy(q: u32) {\n*/\n    a\n}\n")
    assert(b.map(_.name) == Seq("g"), b.toString)
    // closer line with a reopen after it stays masked into the next region
    val c = Chunker.chunkFile("c.rs", "rust",
      "/*\nfn decoy1() {\n*/ /*\nfn decoy2() {\n*/\npub fn h() -> u32 {\n    7\n}\n")
    assert(c.map(_.name) == Seq("h"), c.toString)
    // python one-line docstring is a no-op toggle
    val d = Chunker.chunkFile("d.py", "python",
      "\"\"\"module doc\"\"\"\ndef f(a):\n    return a\n")
    assert(d.map(_.name) == Seq("f"), d.toString)
  }

  test("markers inside strings or line comments never open phantom regions") {
    // go: a backtick inside a double-quoted string is not a template opener
    val g = Chunker.chunkFile("p.go", "go",
      "package p\n\nfunc A() int {\n\tx := \"a`b\"\n\treturn 1\n}\n\n" +
        "func B() int {\n\treturn 2\n}\n")
    assert(g.map(_.name).toSet == Set("A", "B"), g.toString)
    // python: a tripled quote in a hash comment is not a docstring opener
    val p = Chunker.chunkFile("p.py", "python",
      "# use \"\"\" for docstrings\ndef f(a):\n    return a\n")
    assert(p.map(_.name) == Seq("f"), p.toString)
    // python: a tripled quote inside a single-quoted string is content
    // (MARK itself chunks as a module constant since r11 — the point
    // here is that no phantom region swallows g)
    val q = Chunker.chunkFile("q.py", "python",
      "MARK = '\"\"\"'\ndef g(a):\n    return a\n")
    assert(q.map(_.name) == Seq("MARK", "g"), q.toString)
    // java: a block opener inside a string literal is not a comment
    val j = Chunker.chunkFile("s.java", "java",
      "public class S {\n    String s = \"/*\";\n" +
        "    public int real(int x) {\n        return x;\n    }\n}\n")
    assert(j.map(_.name).toSet == Set("S", "real"), j.toString)
    // js: a lone backtick in a line comment is not a template opener
    val t = Chunker.chunkFile("t.js", "javascript",
      "// todo: wrap in ` later\nfunction h(a) {\n    return a;\n}\n")
    assert(t.map(_.name) == Seq("h"), t.toString)
    // fsharp: a line comment inside a balanced paren-star pair stays
    // balanced; a paren-star after a line comment never opens
    val f = Chunker.chunkFile("u.fs", "fsharp",
      "let x = 1 (* note // see *)\n// dead: (* open\nlet real a =\n    a\n")
    assert(f.exists(_.name == "real"), f.toString)
  }

  test("rust: plain multi-line strings and hash-counted raws mask their content") {
    // plain "…" spanning lines: the decoy inside is content
    val a = Chunker.chunkFile("a.rs", "rust", Seq(
      "pub fn real(n: u32) -> u32 {",
      "    let sql = \"CREATE FUNCTION x AS",
      "fn decoy_in_plain(q: u32) {",
      "  SELECT 1\";",
      "    n",
      "}",
      "",
      "pub fn after(n: u32) -> u32 {",
      "    n + 1",
      "}").mkString("\n") + "\n")
    assert(a.map(_.name).toSet == Set("real", "after"), a.toString)
    // r##"…"## two-hash raw: a "# inside is content, only "## closes
    val b = Chunker.chunkFile("b.rs", "rust", Seq(
      "pub fn real2() -> &'static str {",
      "    r##\"contains \"# inner",
      "fn decoy_in_raw2() {",
      "\"##",
      "}",
      "pub fn after2(n: u32) -> u32 {",
      "    n",
      "}").mkString("\n") + "\n")
    assert(b.map(_.name).toSet == Set("real2", "after2"), b.toString)
    // r###"…"### three-hash raw: a "## inside is content (the marker
    // list is matched longest-first; four hash levels covered)
    val b3 = Chunker.chunkFile("b3.rs", "rust", Seq(
      "pub fn real3() -> &'static str {",
      "    r###\"contains \"## inner",
      "fn decoy_in_raw3() {",
      "\"###",
      "}",
      "pub fn after3(n: u32) -> u32 {",
      "    n",
      "}").mkString("\n") + "\n")
    assert(b3.map(_.name).toSet == Set("real3", "after3"), b3.toString)
    // a quote CHAR literal is not a string delimiter (the classic
    // parser-code false open), and escaped quotes never close early
    val c = Chunker.chunkFile("c.rs", "rust", Seq(
      "pub fn is_quote(c: char) -> bool {",
      "    c == '\"'",
      "}",
      "pub fn msg() -> String {",
      "    let s = \"say \\\"hi\\\" now",
      "fn decoy_esc() {",
      "end\".to_string();",
      "    s",
      "}",
      "pub fn last(n: u32) -> u32 {",
      "    n",
      "}").mkString("\n") + "\n")
    assert(c.map(_.name).toSet == Set("is_quote", "msg", "last"), c.toString)
    // lifetimes never read as char openers
    val d = Chunker.chunkFile("d.rs", "rust",
      "pub fn life<'a>(s: &'a str) -> &'a str {\n    s\n}\n")
    assert(d.map(_.name) == Seq("life"), d.toString)
  }

  test("fsharp: a trailing column-0 paren-star banner never extends the span") {
    val src = Seq(
      "let add a b =",
      "    a + b",
      "",
      "(* module banner",
      "   spanning lines *)",
      "",
      "let mul a b =",
      "    a * b").mkString("\n") + "\n"
    val got = Chunker.chunkFile("m.fs", "fsharp", src)
    val add = got.find(_.name == "add").get
    assert(add.end_line == 2, got.toString)
    assert(got.exists(_.name == "mul"), got.toString)
  }

  test("csharp verbatim: doubled quotes inside @-strings are content, not closers") {
    // the "" escape must NOT close the region: the decoy stays masked
    val src = Seq(
      "public class C {",
      "    public string S = @\"line one",
      "with \"\"quoted\"\" text inside",
      "    public int Decoy(int x) {",
      "\";",
      "    public int Real(int y) {",
      "        return y;",
      "    }",
      "}").mkString("\n") + "\n"
    val got = Chunker.chunkFile("v.cs", "csharp", src)
    assert(got.exists(_.name == "Real"), got.toString)
    assert(!got.exists(_.name == "Decoy"), got.toString)
  }

  test("converted-doc languages never emit call or type edges") {
    val doc = Chunker.Chunk("fixtures/help", "webhelp", "section",
      "Doc", 1, 4, "Guide\ncall_like(x)\nSee render(q) and Map<K> use\n", "")
    assert(Chunker.callSites(doc).isEmpty)
    assert(Chunker.typeRefs(doc).isEmpty)
  }

  test("webhelp merge caps are byte-measured and root-level rows survive") {
    import graft.parser.WebhelpConvert
    // 3-byte CJK chars: merged UTF-8 bytes stay under the cap even
    // though the char count is far smaller
    val page = "<html><body>" + ("世界" * 1000) + "</body></html>"
    val md = WebhelpConvert.mergePages(Seq(("p1", page)))
    assert(md.getBytes("UTF-8").length <= WebhelpConvert.MaxMergedBytes)
    // a single-segment row named like a site root is NOT subsumed
    // (sequence(1,0) runs descending in Spark; the guard keeps the
    // distributed path equal to the local reference)
    val rows = Seq(
      ("help/content/a.html", "html", "<html><body>A</body></html>"),
      ("help", "text", "plain row named like the site root"),
      ("other/readme.md", "markdown", "# hi"))
    val s = spark
    import s.implicits._
    val dist = WebhelpConvert.mergeSites(
      rows.toDF("origin", "language", "content"))
      .select("origin", "language", "content")
      .as[(String, String, String)].collect().toSet
    val local = WebhelpConvert.mergeSitesLocal(rows).toSet
    assert(dist === local)
    assert(dist.exists(_._1 == "help") && dist.exists(r =>
      r._1 == "help" && r._2 == "text"))
  }

  test("r12 advice goldens: js/ts ASI statement end, unambiguous heredoc " +
    "spellings after digits/parens, masked-closer trailing comment") {
    def chunks(fn: String, lang: String, src: String) =
      Chunker.chunkFile(fn, lang, src)
    def names(fn: String, lang: String, src: String): Set[String] =
      chunks(fn, lang, src).map(_.name).toSet
    // ASI (semicolon-less) module consts: each declaration's span ends
    // at its own last line — `const VERSION = 5` must not run to the
    // next stray ';' and swallow the function after it
    val asi = chunks("asi.js", "javascript",
      "const VERSION = 5\n\nexport const NAMES = [\n  'a',\n  'b'\n]\n\nfunction realA(x) {\n  return x;\n}\n")
    assert(asi.map(_.name).toSet == Set("VERSION", "NAMES", "realA"))
    val ver = asi.find(_.name == "VERSION").get
    assert(ver.start_line == 1 && ver.end_line == 1)
    val nm = asi.find(_.name == "NAMES").get
    assert(nm.start_line == 3 && nm.end_line == 6)
    // dangling binary operator / comma continues the statement
    val cont = chunks("cont.js", "javascript",
      "const TOTAL = 1 +\n  2\nconst re = /ab;c/\nlet next_one = 7\n")
    assert(cont.find(_.name == "TOTAL").exists(c => c.end_line == 2))
    // a regex literal's closing `/` is not a continuation, and the
    // `;` inside it (blanked) must not end TOTAL early
    assert(cont.find(_.name == "re").exists(c =>
      c.start_line == 3 && c.end_line == 3))
    assert(cont.find(_.name == "next_one").exists(c => c.end_line == 4))
    // ASI expression-body arrow: span is the sig line, not the next ';'
    val arrow = chunks("arrow.js", "javascript",
      "const double_it = x => x * 2\n\nconst LIMIT = 9\nfunction realB(y) {\n  return y;\n}\n")
    assert(arrow.find(_.name == "double_it").exists(c =>
      c.start_line == 1 && c.end_line == 1))
    // ts ASI type alias ending in a generic close: `>` is not `=>`
    val ts = chunks("asi.ts", "typescript",
      "export type Ids = Array<number>\n\nexport const MODE_X = 2\nfunction realC(z: number): number {\n  return z;\n}\n")
    assert(ts.find(_.name == "Ids").exists(c => c.end_line == 1))
    assert(ts.find(_.name == "MODE_X").exists(c => c.end_line == 3))
    // semicolon-full js keeps its exact spans (the `;` early exit)
    val semi = chunks("semi.js", "javascript",
      "const A_ONE = {\n  k: 1,\n};\nconst B_TWO = 2;\n")
    assert(semi.find(_.name == "A_ONE").exists(c => c.end_line == 3))
    assert(semi.find(_.name == "B_TWO").exists(c =>
      c.start_line == 4 && c.end_line == 4))
    // ruby squiggly heredoc after a close-paren receiver: <<~ can
    // never be a shift — the body must stay masked (advice r11 #2)
    assert(names("sq.rb", "ruby",
      "x = foo(1) <<~EOS\ndef hdecoy(a)\n  a\nend\nEOS\ndef real9(a)\n  a\nend\n")
      == Set("real9"))
    // shell heredoc after an fd-dup redirect: the digit is a redirect
    // operand, not arithmetic
    assert(names("fd.sh", "shell",
      "cmd 2>&1 <<EOF\nshdecoy() {\n  true\n}\nEOF\nreal10() {\n  true\n}\n")
      == Set("real10"))
    // quoted tag after a digit: <<'EOS' can never be a shift
    assert(names("qt.rb", "ruby",
      "y = bar(2) <<'EOS'\ndef hdecoy2(a)\n  a\nend\nEOS\ndef real11(a)\n  a\nend\n")
      == Set("real11"))
    // the arithmetic rejections still hold (regression guards)
    assert(names("ar.rb", "ruby",
      "x = 1 <<OPT\ndef real12(a)\n  a\nend\n") == Set("real12"))
    assert(names("ar2.rb", "ruby",
      "y = f() <<MASK\ndef real13(a)\n  a\nend\n") == Set("real13"))
    // rust raw-string const whose region CLOSER carries a trailing
    // line comment after the `;` — the span must end at the closer,
    // not overrun to the next statement (advice r11 #3)
    val rs = chunks("cl.rs", "rust",
      "const SCHEMA_SQL: &str = r#\"\nCREATE TABLE t (id INT);\n\"#; // schema\n\npub fn real14() -> u32 {\n    3\n}\n")
    assert(rs.map(_.name).toSet == Set("SCHEMA_SQL", "real14"))
    assert(rs.find(_.name == "SCHEMA_SQL").exists(c =>
      c.start_line == 1 && c.end_line == 3))
  }

  test("r13 advice goldens: ASI next-line continuation, postfix ++/--, " +
    "go group closer at any indent") {
    def chunks(fn: String, lang: String, src: String) =
      Chunker.chunkFile(fn, lang, src)
    // leading-dot method chain continues the statement (ASI never
    // inserts before a line whose first token is '.')
    val chain = chunks("chain.js", "javascript",
      "const chain_val = builder\n  .add(1)\n  .build()\n\nfunction realD(x) {\n  return x;\n}\n")
    assert(chain.map(_.name).toSet == Set("chain_val", "realD"))
    assert(chain.find(_.name == "chain_val").exists(c =>
      c.start_line == 1 && c.end_line == 3))
    // leading '+' operator style continues; the following declaration
    // is NOT swallowed
    val plus = chunks("plus.js", "javascript",
      "const SUM_T = 1\n  + 2\n  + 3\nlet after_sum = 4\n")
    assert(plus.find(_.name == "SUM_T").exists(c => c.end_line == 3))
    assert(plus.find(_.name == "after_sum").exists(c =>
      c.start_line == 4 && c.end_line == 4))
    // leading '?'/':' ternary continuation
    val tern = chunks("tern.js", "javascript",
      "const pick_v = flag\n  ? 1\n  : 2\nlet post_pick = 3\n")
    assert(tern.find(_.name == "pick_v").exists(c => c.end_line == 3))
    assert(tern.find(_.name == "post_pick").exists(c => c.end_line == 4))
    // a postfix ++ tail is a complete expression, not a dangling
    // binary operator — the next declaration survives
    val inc = chunks("inc.js", "javascript",
      "let counter_x = start++\nlet other_y = 5\n")
    assert(inc.find(_.name == "counter_x").exists(c => c.end_line == 1))
    assert(inc.find(_.name == "other_y").exists(c =>
      c.start_line == 2 && c.end_line == 2))
    // ++/-- are restricted productions: a leading ++ line forces ASI
    // and starts a NEW statement
    val restr = chunks("restr.js", "javascript",
      "let base_q = 7\n++seen\nlet tail_q = 8\n")
    assert(restr.find(_.name == "base_q").exists(c => c.end_line == 1))
    assert(restr.find(_.name == "tail_q").exists(c => c.end_line == 3))
    // go const group with a NON-gofmt indented closer: the group still
    // terminates and the following function chunks (the old scanner
    // only stopped on a column-0 ')')
    val g = chunks("ind.go", "go",
      "package p\n\nconst (\n\tAOne = 1\n\tBTwo = 2\n  )\n\nfunc RealG() int {\n\treturn 1\n}\n")
    assert(g.map(_.name).toSet == Set("AOne", "BTwo", "RealG"), g.toString)
    assert(g.find(_.name == "RealG").exists(_.chunk_type == "function"))
  }

  test("r13: counted-delimiter raw strings above the enumerated tiers " +
    "(rust 9+-hash, csharp 9+-quote, R 3+-dash) mask their content") {
    def names(fn: String, lang: String, src: String): Set[String] =
      Chunker.chunkFile(fn, lang, src).map(_.name).toSet
    // rust 9-hash raw: the decoy fn inside is content; the const spans
    // to the closer and the next real fn survives
    val h = "#" * 9
    val rs = Chunker.chunkFile("big.rs", "rust",
      s"""const T9: &str = r$h"
         |fn decoy_rs(x: u32) -> u32 { x }
         |"$h;
         |
         |pub fn real_rs() -> u32 {
         |    9
         |}
         |""".stripMargin)
    assert(rs.map(_.name).toSet == Set("T9", "real_rs"), rs.toString)
    assert(rs.find(_.name == "T9").exists(c =>
      c.start_line == 1 && c.end_line == 3))
    // 12-hash tier (arbitrary depth, not just 9)
    val h12 = "#" * 12
    assert(names("big12.rs", "rust",
      s"""const T12: &str = r$h12"
         |fn decoy12(x: u32) -> u32 { x }
         |"$h12;
         |pub fn real12() -> u32 { 1 }
         |""".stripMargin) == Set("T12", "real12"))
    // csharp 9-quote fence: longest-first position tie vs the 8-tier
    val q9 = "\"" * 9
    assert(names("big.cs", "csharp",
      s"""class Big {
         |    string t = $q9
         |    public int Decoy9(int x) {
         |    $q9;
         |    public int Real9(int y) {
         |        return y;
         |    }
         |}
         |""".stripMargin).intersect(Set("Decoy9", "Real9")) == Set("Real9"))
    // R 4-dash raw in both capitalizations
    assert(names("big.r", "r",
      "t <- r\"----(\ndecoy_r <- function(x) x\n)----\"\nreal_r <- function(y) y\n")
      == Set("real_r"))
    assert(names("bigR.r", "r",
      "t <- R\"---[\ndecoy_r2 <- function(x) x\n]---\"\nreal_r2 <- function(y) y\n")
      == Set("real_r2"))
    // enumerated tiers still win their own spellings (regression)
    assert(names("t8.rs", "rust",
      "const E8: &str = r" + "#" * 8 + "\"\nfn decoy8(x: u32) -> u32 { x }\n\"" +
        "#" * 8 + ";\npub fn real8() -> u32 { 8 }\n")
      == Set("E8", "real8"))
  }
}
