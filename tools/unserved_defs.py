#!/usr/bin/env python3
"""List src/main defs, vals and objects whose name nothing in src/main or perfbench/src uses.

Usage: python3 tools/unserved_defs.py [repo root]. Only members of an object, class or
trait count, not locals or overrides. Comments are stripped, string literals kept (a name
interpolated into SQL is a use); uses inside the member's own body are not. A helper that
only a listed member calls shows once that member is gone, so rerun after each deletion.
Prints `name  file:line  test_refs=N`, N being the word's count in src/test.
"""
import collections, pathlib, re, sys

LIT = re.compile(r'"""(?s:.*?)"""|"(?:\\.|[^"\\\n])*"|' + r"'(?:\\.|[^'\\\n])'")
KEY = re.compile(r"\b(def|val|var|object|class|trait)\b")
DECL = re.compile(r"^\s*(?:(?:private|protected|final|lazy|sealed|case)(?:\[\w+\])?\s+)*"
                  r"(def|val|object)\s+([A-Za-z_]\w*)")
WORD = re.compile(r"[A-Za-z_]\w*")

def strip(src):  # -> (lines without comments, the same with string literals blanked)
    keep, bare, i, depth = [], [], 0, 0
    while i < len(src):
        if depth or src.startswith("/*", i):  # block comments nest in Scala
            step = 2 if src.startswith(("/*", "*/"), i) else 1
            depth += src.startswith("/*", i) - src.startswith("*/", i)
            piece = blank = "\n" * src.count("\n", i, i + step)
        elif src.startswith("//", i):
            step, piece, blank = src.find("\n", i) % (len(src) + 1) - i, "", ""
        else:
            m = LIT.match(src, i)
            piece = m.group() if m else src[i]
            step, blank = len(piece), re.sub(r"[^\n]", " ", piece) if m else piece
        keep.append(piece); bare.append(blank); i += step
    return "".join(keep).split("\n"), "".join(bare).split("\n")

def main(root):
    load = lambda sub: {p: strip(p.read_text()) for p in sorted((root / sub).rglob("*.scala"))}
    src, uses = load("src/main/scala"), {}
    tests = collections.Counter(w for ls, _ in load("src/test").values()
                                for line in ls for w in WORD.findall(line))
    for p, (lines, _) in (src | load("perfbench/src")).items():
        for k, line in enumerate(lines):
            for w in set(WORD.findall(line)): uses.setdefault(w, []).append((p, k))
    for p, (_, bare) in src.items():
        stack, last, at = [], None, []  # per open brace: is it a template body?
        for line in bare:  # at[k] = (line k sits directly in a template body, brace depth)
            at.append((stack[-1] if stack else True, len(stack)))
            for t in re.finditer(r"[{}]|" + KEY.pattern, line):
                if t.group() == "}": stack = stack[:-1]
                elif t.group() != "{": last = t.group()
                else: stack, last = stack + [last in ("object", "class", "trait")], None
        for k, line in enumerate(bare):
            m = DECL.match(line)
            if not m or not at[k][0]: continue
            end = next((e for e in range(k + 1, len(bare)) if at[e][1] < at[k][1]
                        or (at[e][1] == at[k][1] and KEY.search(bare[e]))), len(bare))
            name = m.group(2)
            if all(q == p and k <= e < end for q, e in uses.get(name, ())):
                print(f"{name}  {p.relative_to(root)}:{k + 1}  test_refs={tests[name]}")

main(pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else "."))
