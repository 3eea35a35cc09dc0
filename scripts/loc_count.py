"""Count the lines of top-level definitions or whole modules: total, and AST
code lines.

    python scripts/loc_count.py path/to/mod.py::name [path/to/mod.py ...]

A definition is a top-level def, class or (annotated) assignment; a bare
path counts the whole module.  Code lines are the non-blank lines that
are neither comment-only nor inside a docstring.  Prints one row per
argument (total, code), then the sum.  Stdlib only."""

import ast
import sys


def _defines(node: ast.stmt, name: str) -> bool:
    if getattr(node, "name", None) == name:
        return True
    targets = getattr(node, "targets", None) or [getattr(node, "target", None)]
    return name in [getattr(t, "id", None) for t in targets]


def count(path: str, name: str | None = None) -> tuple[int, int]:
    src = open(path, encoding="utf-8").read()
    lines = src.splitlines()
    node = tree = ast.parse(src)
    if name is not None:
        node = next((n for n in tree.body if _defines(n, name)), None)
        if node is None:
            raise SystemExit(f"{path}: no top-level definition named {name!r}")
    doc = set()
    for sub in ast.walk(node):
        body = getattr(sub, "body", None)
        first = body[0] if isinstance(body, list) and body else None
        if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant) \
                and isinstance(first.value.value, str):
            doc.update(range(first.lineno, first.end_lineno + 1))
    span = range(1, len(lines) + 1) if name is None \
        else range(node.lineno, node.end_lineno + 1)
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
