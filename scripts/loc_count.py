"""Count the lines of top-level definitions: total, and AST code lines.

    python scripts/loc_count.py path/to/mod.py::name [path::name ...]

A definition is a top-level def, class or assignment.  Its code lines are
its non-blank lines that are neither comment-only nor inside a docstring.
Prints one row per name (total, code), then the sum.  Stdlib only."""

import ast
import sys


def count(path: str, name: str) -> tuple[int, int]:
    src = open(path, encoding="utf-8").read()
    lines = src.splitlines()
    node = next(n for n in ast.parse(src).body if getattr(n, "name", None) == name
                or name in [getattr(t, "id", None) for t in getattr(n, "targets", [])])
    doc = set()
    for sub in ast.walk(node):
        body = getattr(sub, "body", None)
        first = body[0] if isinstance(body, list) and body else None
        if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant) \
                and isinstance(first.value.value, str):
            doc.update(range(first.lineno, first.end_lineno + 1))
    span = range(node.lineno, node.end_lineno + 1)
    code = [i for i in span if i not in doc and lines[i - 1].strip()
            and not lines[i - 1].strip().startswith("#")]
    return len(span), len(code)


if __name__ == "__main__":
    total = code = 0
    for arg in sys.argv[1:]:
        t, c = count(*arg.split("::"))
        total, code = total + t, code + c
        print(f"{arg}\t{t}\t{c}")
    print(f"sum\t{total}\t{code}")
