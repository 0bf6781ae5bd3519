#!/usr/bin/env python3
"""Make `perfbench/corpus.tar.xz`, the real code the benchmark indexes.

Usage:

    python3 perfbench/make_corpus.py --stdlib <prefix>/lib/python3.13 \\
        --include <prefix>/include --out perfbench/corpus.tar.xz

It packs the package directories of a Python 3.13 standard library and
two header trees of the same install's include directory that the
workloads use, with only the files the engine's walk yields (its
extension set; hidden entries, symbolic links and `__pycache__` left
out), plus the standard library's licence. The archive is reproducible:
entries are sorted and carry no owner or time, so the same trees give
the same bytes. `run.py` unpacks it into the build directory, and
`perfbench.Corpus` checks the unpacked files against its pinned digest.
"""
import argparse
import io
import os
import tarfile

LIB_REPOS = ["asyncio", "dbm", "email", "ensurepip", "idlelib", "json",
             "sysconfig", "tomllib", "zoneinfo"]
INCLUDE_REPOS = ["curl", "openssl"]

# graft.sources.FileWalk.defaultLanguageByExt's keys
EXTENSIONS = {
    "py", "rs", "go", "js", "mjs", "ts", "tsx", "java", "scala", "kt",
    "c", "h", "cpp", "cc", "hpp", "cs", "rb", "lua", "pl", "r", "jl", "hs",
    "ex", "exs", "zig", "dart", "sh", "bash", "sql", "md", "yaml", "yml",
    "toml", "json", "xml", "ini", "erl", "ml", "fs", "vb", "m", "swift",
    "groovy", "elm", "nix"}


def walked(root):
    """Paths under `root` the engine's walk yields, relative to `root`."""
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if not x.startswith(".") and
                         not os.path.islink(os.path.join(d, x)))
        for f in files:
            p = os.path.join(d, f)
            dot = f.rfind(".")
            ext = f[dot + 1:].lower() if 0 < dot < len(f) - 1 else ""
            if not f.startswith(".") and not os.path.islink(p) and ext in EXTENSIONS:
                out.append(os.path.relpath(p, root))
    return sorted(out)


def add(tar, src, name):
    with open(src, "rb") as f:
        data = f.read()
    info = tarfile.TarInfo(name)
    info.size = len(data)
    info.mode = 0o644
    tar.addfile(info, io.BytesIO(data))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--stdlib", required=True)
    ap.add_argument("--include", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    entries = [(os.path.join(a.stdlib, "LICENSE.txt"), "python3.13/LICENSE.txt")]
    for top, prefix, repos in ((a.stdlib, "python3.13", LIB_REPOS),
                               (a.include, "include", INCLUDE_REPOS)):
        for r in repos:
            root = os.path.join(top, r)
            entries += [(os.path.join(root, p), f"{prefix}/{r}/{p}") for p in walked(root)]
    with tarfile.open(a.out, "w:xz", format=tarfile.USTAR_FORMAT) as tar:
        for src, name in sorted(entries, key=lambda e: e[1]):
            add(tar, src, name)
    print(f"{a.out}: {len(entries)} files")


if __name__ == "__main__":
    main()
