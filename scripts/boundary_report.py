#!/usr/bin/env python3
"""List the public library surface that nothing in the repo reaches.

Usage: python3 scripts/boundary_report.py

Prints every top-level `object` and every public member `def` under
src/main/scala whose name is referenced nowhere outside its own
definition: not elsewhere in src/main (comments do not count), not in
perfbench/ and not in scripts/. Such code is reached only by its own tests,
so it falls outside the library boundary (see README): delete it, or give
it an ALLOWED entry with its reason.

Stdlib only. Exits 0 when it prints nothing, 1 otherwise.
"""
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MAIN = ROOT / "src" / "main" / "scala"

# Public surface kept although nothing outside the tests reaches it, one
# reason per entry. An object's entry covers its members too. An entry that
# covers nothing unreached is itself reported, so the list cannot go stale.
ALLOWED = {
    "Tables.loadTable": "reference surface: load_table (SURVEY O14)",
    "Tables.getArchiveVersions": "reference surface: get_archive_versions (SURVEY O16)",
    "CsvUtils": "reference surface: the paper's CSV helpers (SURVEY §2.4)",
    "JsonUtils": "reference surface: the paper's JSON helpers (SURVEY §2.4)",
    "Paths": "reference surface: the paper's path helpers (SURVEY §2.3)",
    "TextFunctions.simHash": "test reference: the HOF form the native SimHash kernel must match",
    "VectorFunctions.cosineSimilarity":
        "test reference: the HOF form the native cosine kernel must match",
    "VectorFunctions.hyperplaneBucketHof":
        "test reference: the HOF form the native LSH bucket kernel must match",
}

MODIFIERS = r"(?:(?:final|sealed|abstract|case|implicit|lazy|override|inline|" \
            r"private(?:\[\w+\])?|protected(?:\[\w+\])?)\s+)*"
TEMPLATE = re.compile(r"^( *)(" + MODIFIERS + r")(object|class|trait)\s+(\w+)")
DEF = re.compile(r"^( *)(" + MODIFIERS + r")def\s+(\w+)")
HIDDEN = re.compile(r"\b(private|protected)\b")


def strip_comments(text):
    """Blank out // and /* */ comments, keeping string literals and line
    breaks, so line numbers still match the source."""
    out, i, n = [], 0, len(text)
    while i < n:
        if text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            j += 1
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
            continue
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append("\n" * text.count("\n", i, j))
            i = j
            continue
        else:
            j = i + 1
        out.append(text[i:j])
        i = j
    return "".join(out)


def span_end(lines, start, indent):
    """Index after the last line of the definition opening at `start`: it
    runs until a line indented less, or as much that does not close it."""
    for k in range(start + 1, len(lines)):
        line = lines[k]
        ind = len(line) - len(line.lstrip(" "))
        if line.strip() and (ind < indent or (ind == indent and line.lstrip()[0] not in "})")):
            return k
    return len(lines)


def definitions(lines):
    """(qualified name, bare name, first line, end line) of the file's
    public top-level objects and of the public defs declared directly in
    the body of a public object, class or trait. A top-level object with a
    `main` is a command-line entry point and is left out, as is `main`
    itself; `override`s are reached through their parent type."""
    stack = []  # (indent, name, public) of the enclosing templates
    objects, entry = {}, set()
    for k, line in enumerate(lines):
        if not line.strip():
            continue
        ind = len(line) - len(line.lstrip(" "))
        while stack and stack[-1][0] >= ind:
            stack.pop()
        public = all(p for _, _, p in stack)
        m = TEMPLATE.match(line)
        if m:
            pub = public and not HIDDEN.search(m.group(2))
            stack.append((ind, m.group(4), pub))
            if ind == 0 and m.group(3) == "object" and pub:
                objects[m.group(4)] = (k, span_end(lines, k, ind))
            continue
        m = DEF.match(line)
        if not m:
            continue
        name, mods = m.group(3), m.group(2)
        if stack and stack[-1][0] == ind - 2:
            if name == "main" and len(stack) == 1:
                entry.add(stack[0][1])
            elif public and not HIDDEN.search(mods) and "override" not in mods:
                owner = ".".join(n for _, n, _ in stack)
                yield f"{owner}.{name}", name, k, span_end(lines, k, ind)
        # what a def's body declares is local to it
        stack.append((ind, name, False))
    for name, (start, end) in objects.items():
        if name not in entry:
            yield name, name, start, end


def main():
    sources = {p: strip_comments(p.read_text()).split("\n")
               for p in sorted(MAIN.rglob("*.scala"))}
    others = "\n".join(
        p.read_text()
        for d in ("perfbench", "scripts")
        for p in sorted((ROOT / d).rglob("*"))
        if p.is_file() and p.suffix in (".scala", ".py", ".sh")
        and p.resolve() != Path(__file__).resolve())
    defs = [(p, *d) for p, lines in sources.items() for d in definitions(lines)]

    def referenced(name):
        word = re.compile(r"(?<![\w$])" + re.escape(name) + r"(?![\w$])")
        # the name's own definitions (every overload) do not count
        own = [(p, s, e) for p, _, n, s, e in defs if n == name]
        return word.search(others) is not None or any(
            word.search(line)
            for p, lines in sources.items()
            for k, line in enumerate(lines)
            if not any(p == q and s <= k < e for q, s, e in own))

    unreached = {qual: f"{p.relative_to(ROOT)}:{start + 1}"
                 for p, qual, name, start, end in defs if not referenced(name)}

    def allowed(qual):
        return qual in ALLOWED or qual.split(".")[0] in ALLOWED

    bad = [f"{where}: {qual}" for qual, where in unreached.items() if not allowed(qual)]
    bad += [f"ALLOWED entry covers nothing unreached: {a}" for a in ALLOWED
            if not any(q == a or q.startswith(a + ".") for q in unreached)]
    for line in bad:
        print(line)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
