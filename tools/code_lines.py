#!/usr/bin/env python
"""Code lines per directory: non-blank lines holding a Python token, minus
comments and module/class/function docstrings (ROADMAP aim 2's metric).
Usage: python tools/code_lines.py [dir or file ...];
default: engine, workloads, tools"""
import ast, io, pathlib, sys, tokenize

SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
        tokenize.DEDENT, tokenize.ENDMARKER}
DEFS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(src: str) -> int:
    doc = set()
    for n in ast.walk(ast.parse(src)):
        if isinstance(n, DEFS) and n.body and isinstance(n.body[0], ast.Expr) \
                and isinstance(n.body[0].value, ast.Constant) \
                and isinstance(n.body[0].value.value, str):
            doc.update(range(n.body[0].lineno, n.body[0].end_lineno + 1))
    used = set()
    for t in tokenize.generate_tokens(io.StringIO(src).readline):
        if t.type not in SKIP:
            used.update(range(t.start[0], t.end[0] + 1))
    lines = src.splitlines()
    return sum(1 for i in used - doc if lines[i - 1].strip())


for d in sys.argv[1:] or ["autonomus_datapipeline_spark",
                          "autonomus_datapipeline_spark/workloads", "tools"]:
    path = pathlib.Path(d)
    files = [path] if path.is_file() else path.rglob("*.py")
    print(f"{d}\t{sum(code_lines(p.read_text()) for p in files)}")
