#!/usr/bin/env python3
"""Count code lines in Scala (or Java) sources: blank lines and lines that
hold only comment text (`//` lines, `/* ... */` and Scaladoc blocks) are not
counted; a line with code and a trailing comment is.

    python3 tools/code_lines.py src/main/scala/graft/ext/Jpeg.scala ...

Prints one `<lines>  <path>` row per file, then the total. A directory
argument counts every `.scala`/`.java` file under it.
"""
import os
import sys


def code_mask(text):
    """One flag per line of `text`: True when the line carries at least
    one character of code.

    A small scanner: it tracks (nested) block comments and string
    literals, so a `/*` inside a string does not open a comment."""
    mask = []
    depth = 0  # block-comment nesting (Scala comments nest)
    in_triple = False  # inside a """...""" literal (may span lines)
    for line in text.splitlines():
        code = in_triple
        i = 0
        while i < len(line):
            if in_triple:
                end = line.find('"""', i)
                if end < 0:
                    break
                in_triple = False
                i = end + 3
                continue
            two = line[i:i + 2]
            if depth > 0:
                if two == "*/":
                    depth -= 1
                    i += 2
                elif two == "/*":
                    depth += 1
                    i += 2
                else:
                    i += 1
                continue
            c = line[i]
            if two == "//":
                break
            if two == "/*":
                depth += 1
                i += 2
                continue
            if c.isspace():
                i += 1
                continue
            code = True
            if line.startswith('"""', i):
                in_triple = True
                i += 3
            elif c == '"':
                i += 1
                while i < len(line) and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and i + 2 < len(line) and (line[i + 2] == "'" or line[i + 1] == "\\"):
                # char literal ('x' or '\n'); a lone ' is a symbol or quote
                end = line.find("'", i + 2 if line[i + 1] == "\\" else i + 1)
                i = (end if end > 0 else i) + 1
            else:
                i += 1
        mask.append(code)
    return mask


def code_lines(text):
    """Lines of `text` that carry at least one character of code."""
    return sum(code_mask(text))


def files(paths):
    for p in paths:
        if os.path.isdir(p):
            for d, _, fs in sorted(os.walk(p)):
                for f in sorted(fs):
                    if f.endswith((".scala", ".java")):
                        yield os.path.join(d, f)
        else:
            yield p


def main(argv):
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for p in files(argv):
        with open(p, encoding="utf-8") as f:
            k = code_lines(f.read())
        total += k
        print(f"{k:7d}  {p}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
