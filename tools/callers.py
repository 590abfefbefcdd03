#!/usr/bin/env python3
"""List main-code members that no other main or benchmark code names.

Scans the Scala and Java sources of src/main and apmbench/src. For each
non-private `def`, `val`, `var`, `object`, `class` or `trait` of src/main
declared at member level (at the top of a file, or directly in an
object, class or trait body; not inside a method or block), it counts
how often the name occurs as a whole identifier in the scanned code once
comments are stripped. String literals are kept, so `s"$name"` and
reflective class names count. When the name occurs no more often than
it is declared, no other code names it, and the member is printed.
Tests do not count as callers: a member that only a spec reaches is
listed.

Skipped: `private` members (only their own file can name them),
`override` and `implicit` members, and the names that Scala syntax calls
without naming them (`apply`, `unapply`, `unapplySeq`, `update`). A name
counts as named wherever it occurs, so a local of the same name
elsewhere hides an unnamed member; treat the list as a lower bound.

Usage: python3 tools/callers.py [repo_root]
Prints one `<path>:<line> <kind> <name>` line per member, then
`<n> members with no caller`.
"""
import collections
import pathlib
import re
import sys

MAIN = "src/main"
ROOTS = (MAIN, "apmbench/src")
KINDS = ("def", "val", "var", "object", "class", "trait")
SYNTAX_CALLED = {"apply", "unapply", "unapplySeq", "update"}
IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
CHAR_LIT = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'")
DECL = re.compile(r"\b(" + "|".join(KINDS) + r")\s+(" + IDENT + ")")


def strip(text):
    """Return (code, blank): `code` is `text` with comments replaced by
    spaces; `blank` also blanks the contents of string and char literals,
    so its braces and keywords are the program's own. Both keep every
    newline, so offsets and line numbers agree with `text`."""
    code, blank = [], []
    i, n = 0, len(text)

    def emit(s, blanked):
        code.append(s)
        blank.append(blanked)

    def spaces(s):
        return re.sub(r"[^\n]", " ", s)

    while i < n:
        c = text[i]
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            emit(spaces(text[i:j]), spaces(text[i:j]))
            i = j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            emit(spaces(text[i:j]), spaces(text[i:j]))
            i = j
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':
                j += 1
            emit(text[i:j], '"' + spaces(text[i + 1:j - 1]) + '"')
            i = j
        elif c == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            j = min(j + 1, n)
            emit(text[i:j], '"' + spaces(text[i + 1:j - 1]) + '"')
            i = j
        elif c == "'" and CHAR_LIT.match(text, i):
            j = CHAR_LIT.match(text, i).end()
            emit(text[i:j], spaces(text[i:j]))
            i = j
        else:
            emit(c, c)
            i += 1
    return "".join(code), "".join(blank)


def members(blank):
    """Yield (offset, kind, name, modifiers) for each member-level
    declaration in a blanked source."""
    stack = []          # one entry per open brace: True = template body
    parens = 0
    pending = False     # an object/class/trait header awaits its body
    last = 0            # start of the current statement's modifiers
    for m in re.finditer(r"[{}();\n]|\b(?:" + "|".join(KINDS) + r")\b",
                         blank):
        tok = m.group()
        if tok == "{":
            stack.append(pending and parens == 0)
            if parens == 0:
                pending = False
            last = m.end()
        elif tok == "}":
            if stack:
                stack.pop()
            last = m.end()
        elif tok == "(":
            parens += 1
        elif tok == ")":
            parens = max(parens - 1, 0)
        elif tok in (";", "\n"):
            if parens == 0:
                last = m.end()
        else:
            d = DECL.match(blank, m.start())
            if d is None or parens:
                continue
            pending = tok in ("object", "class", "trait")
            if all(stack):
                line_start = blank.rfind("\n", 0, m.start()) + 1
                mods = blank[max(last, line_start):m.start()]
                yield m.start(), tok, d.group(2), mods


def main(root):
    base = pathlib.Path(root)
    sources = {}
    for r in ROOTS:
        for f in sorted((base / r).rglob("*")):
            if f.suffix in (".scala", ".java") and f.is_file():
                sources[f] = strip(f.read_text(encoding="utf-8"))
    uses = collections.Counter()
    for code, _ in sources.values():
        uses.update(re.findall(IDENT, code))
    decls = collections.Counter()
    for _, blank in sources.values():
        decls.update(d.group(2) for d in DECL.finditer(blank))
    found = []
    for f, (_, blank) in sources.items():
        if not f.is_relative_to(base / MAIN):
            continue
        for off, kind, name, mods in members(blank):
            if (re.search(r"\bprivate\b(?!\s*\[)", mods)
                    or re.search(r"\b(override|implicit)\b", mods)
                    or name in SYNTAX_CALLED):
                continue
            if uses[name] <= decls[name]:
                line = blank.count("\n", 0, off) + 1
                found.append(f"{f.relative_to(base)}:{line} {kind} {name}")
    for row in found:
        print(row)
    print(f"{len(found)} members with no caller")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else ".")
