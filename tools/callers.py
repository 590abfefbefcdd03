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

Two kinds of member are reached from outside the code and are listed
apart from the rest: a `def main` together with the object that encloses
it (the JVM calls them), and each class that a file under
src/main/resources/META-INF/services names (Java's ServiceLoader
instantiates it). So the "no caller" list holds only what needs a
reason to stay.

Skipped: `private` members (only their own file can name them),
`override` and `implicit` members, and the names that Scala syntax calls
without naming them (`apply`, `unapply`, `unapplySeq`, `update`). A name
counts as named wherever it occurs, so a local of the same name
elsewhere hides an unnamed member; treat the list as a lower bound.

It then lists each field of a src/main case class whose name ends in
`Cfg` that no scanned code sets, so every run takes the field's
default. A field is set by a named argument or a positional argument of
a `<Name>Cfg(...)` call, or by a named argument of any `copy(...)` call
(a copy's receiver type is not resolved, so it sets the field of every
`Cfg` class with that name). Tests do not count here either.

Usage: python3 tools/callers.py [repo_root]
Prints three sections of `<path>:<line> <kind> <name>` lines, each under
a `# <heading>` line and closed by a count line: `<n> mains and their
objects`, `<n> service providers` and `<n> members with no caller`.
Then one `<path>:<line> field <Class>.<field>` line per unset field,
then `<n> config fields never set`.
"""
import collections
import pathlib
import re
import sys

MAIN = "src/main"
SERVICES = "src/main/resources/META-INF/services"
ROOTS = (MAIN, "apmbench/src")
KINDS = ("def", "val", "var", "object", "class", "trait")
SYNTAX_CALLED = {"apply", "unapply", "unapplySeq", "update"}
IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
CHAR_LIT = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'")
DECL = re.compile(r"\b(" + "|".join(KINDS) + r")\s+(" + IDENT + ")")
CFG_DECL = re.compile(r"\bcase\s+class\s+(" + IDENT + r"Cfg)\s*\(")
NAMED_ARG = re.compile(r"\s*(" + IDENT + r")\s*=(?![=>])")


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
    """Yield (offset, kind, name, modifiers, owner) for each member-level
    declaration in a blanked source. `owner` is the name of the enclosing
    object, class or trait, or None at the top of the file."""
    stack = []          # one entry per open brace: its template's name,
                        # or None for a block
    parens = 0
    pending = None      # the object/class/trait whose body comes next
    last = 0            # start of the current statement's modifiers
    for m in re.finditer(r"[{}();\n]|\b(?:" + "|".join(KINDS) + r")\b",
                         blank):
        tok = m.group()
        if tok == "{":
            stack.append(pending if parens == 0 else None)
            if parens == 0:
                pending = None
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
            pending = (d.group(2) if tok in ("object", "class", "trait")
                       else None)
            if all(stack):
                line_start = blank.rfind("\n", 0, m.start()) + 1
                mods = blank[max(last, line_start):m.start()]
                yield (m.start(), tok, d.group(2), mods,
                       stack[-1] if stack else None)


def args_at(blank, open_paren):
    """Split the argument list whose `(` is at `open_paren` at its
    top-level commas; return [(offset, text)]."""
    depth, start, out = 0, open_paren + 1, []
    for i in range(open_paren, len(blank)):
        c = blank[i]
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
            if depth == 0:
                out.append((start, blank[start:i]))
                return out
        elif c == "," and depth == 1:
            out.append((start, blank[start:i]))
            start = i + 1
    return out


def unset_cfg_fields(base, sources):
    """Yield `<path>:<line> field <Class>.<field>` for each field of a
    src/main `*Cfg` case class that no scanned code sets."""
    fields = {}         # class -> [(field, path, line)]
    for f, (_, blank) in sources.items():
        if not f.is_relative_to(base / MAIN):
            continue
        for d in CFG_DECL.finditer(blank):
            fields[d.group(1)] = []
            for off, a in args_at(blank, d.end() - 1):
                m = re.match(r"\s*(?:val\s+)?(" + IDENT + r")\s*:", a)
                if m:
                    line = blank.count("\n", 0, off + m.start(1)) + 1
                    fields[d.group(1)].append(
                        (m.group(1), f.relative_to(base), line))
    if not fields:
        return
    call = re.compile(
        r"\b(" + "|".join(map(re.escape, fields)) + r"|copy)\s*\(")
    set_ = set()
    for _, blank in sources.values():
        decls = {d.end() - 1 for d in CFG_DECL.finditer(blank)}
        for m in call.finditer(blank):
            if m.end() - 1 in decls:
                continue
            cls = m.group(1)
            for pos, (_, a) in enumerate(args_at(blank, m.end() - 1)):
                named = NAMED_ARG.match(a)
                if named:
                    for c in (fields if cls == "copy" else [cls]):
                        set_.add((c, named.group(1)))
                elif cls != "copy" and a.strip() and pos < len(fields[cls]):
                    set_.add((cls, fields[cls][pos][0]))
    for cls, fs in fields.items():
        for name, path, line in fs:
            if (cls, name) not in set_:
                yield f"{path}:{line} field {cls}.{name}"


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
    providers = set()
    for f in sorted((base / SERVICES).glob("*")):
        for line in f.read_text(encoding="utf-8").splitlines():
            line = line.split("#", 1)[0].strip()
            if line:
                providers.add(line)
    mains, loaded, found = [], [], []
    for f, (_, blank) in sources.items():
        if not f.is_relative_to(base / MAIN):
            continue
        pkg = re.search(r"^\s*package\s+([\w.]+)", blank, re.M)
        pkg = pkg.group(1) + "." if pkg else ""
        decl = list(members(blank))
        # objects whose `def main` the JVM calls
        entry = {o for _, k, n, _, o in decl if k == "def" and n == "main"}
        for off, kind, name, mods, owner in decl:
            if (re.search(r"\bprivate\b(?!\s*\[)", mods)
                    or re.search(r"\b(override|implicit)\b", mods)
                    or name in SYNTAX_CALLED or uses[name] > decls[name]):
                continue
            line = blank.count("\n", 0, off) + 1
            row = f"{f.relative_to(base)}:{line} {kind} {name}"
            if ((kind == "def" and name == "main")
                    or (kind == "object" and owner is None
                        and name in entry)):
                mains.append(row)
            elif kind == "class" and owner is None and pkg + name in providers:
                loaded.append(row)
            else:
                found.append(row)
    for heading, rows, tail in (
            ("mains: the JVM calls them", mains, "mains and their objects"),
            ("service providers: META-INF/services names them", loaded,
             "service providers"),
            ("no caller", found, "members with no caller")):
        print(f"# {heading}")
        for row in rows:
            print(row)
        print(f"{len(rows)} {tail}")
    unset = list(unset_cfg_fields(base, sources))
    for row in unset:
        print(row)
    print(f"{len(unset)} config fields never set")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else ".")
