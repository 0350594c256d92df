"""Count code lines: physical lines that hold a token other than a
comment, docstrings left out.

    python scripts/code_lines.py <file.py> [function ...]

Prints the count of each named function (every def of that name, at
any depth, summed), then the file total.
"""

import ast
import io
import sys
import tokenize

_NOT_CODE = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
             tokenize.DEDENT, tokenize.ENDMARKER}
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def main(path: str, names: list[str]) -> None:
    with open(path) as f:
        source = f.read()
    tree = ast.parse(source)
    lines = {
        ln
        for tok in tokenize.generate_tokens(io.StringIO(source).readline)
        if tok.type not in _NOT_CODE
        for ln in range(tok.start[0], tok.end[0] + 1)
    }
    for node in ast.walk(tree):
        first = node.body[0] if isinstance(node, _SCOPES) and node.body else None
        if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant) \
                and isinstance(first.value.value, str):
            lines -= set(range(first.lineno, first.end_lineno + 1))
    for name in names:
        spans = [(n.lineno, n.end_lineno) for n in ast.walk(tree)
                 if isinstance(n, _SCOPES[2:]) and n.name == name]
        if not spans:
            sys.exit(f"{name}: no such function")
        print(f"{name}\t{sum(any(a <= ln <= b for a, b in spans) for ln in lines)}")
    print(f"{path}\t{len(lines)}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2:])
