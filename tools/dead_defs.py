#!/usr/bin/env python3
"""List public defs/vals in src/main that nothing outside their own declaration names.

A name-reference scan, not a call graph: for each public member
`def`/`val` declared in `src/main`, count the occurrences of the name
as a whole word across the code of `src/main` and `perfbench/src`.
Comments and the plain text of string literals do not count; the
identifiers an interpolated string splices in (`$x`, `${...}`) do. A
name seen exactly once - its own declaration - is reachable from specs
at most, so no main, query, stress arm or perfbench entry point runs
it. Overrides, implicits, locals (a `def`/`val` nested in a `def`/`val`
body; the compiler's unused lint covers those) and names the language
calls implicitly (`main`, `apply`, ...) are skipped.

The count is by name, not by owner: a member that shares its name
with another member, or with any identifier in the code, hides from
the scan even when nothing calls it.

Prints `file:line name` per finding. Names in KEEP are printed with
their reason and do not fail the scan; any other finding makes the
script exit 1.

Usage: python3 tools/dead_defs.py
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src", "main")
PERFBENCH = os.path.join(ROOT, "perfbench", "src")

# Kept on purpose although no entry point names them yet.
KEEP = {
    "fromEnv": "CdcConfig: config of the CDC service main (ROADMAP item 7)",
    "progressOf": "LagListener: per-query lag read by the CDC service main (item 7)",
    "awaitWithShutdownHook": "CdcPipeline: graceful stop of the CDC service main (item 7)",
    "streamedAbortDiscards": "PgOutput.Decoder: drop counter the drop report reads (item 5)",
    "lastObservedDrops": "Dedup: drop counter the drop report reads (item 5)",
    "resetObservedDrops": "Dedup: drop counter the drop report reads (item 5)",
    "typeMsg": "PgOutput.Encoder: the encoder covers the whole pgoutput wire format",
    "truncate": "PgOutput.Encoder: the encoder covers the whole pgoutput wire format",
    "message": "PgOutput.Encoder: the encoder covers the whole pgoutput wire format",
    "origin": "PgOutput.Encoder: the encoder covers the whole pgoutput wire format",
    "droppedUnknownRelation": "PgOutput.Decoder: drop counter the drop report reads (item 5)",
    "readFeedback": "CdcFrameFiles: reads the feedback file the graft-cdc source publishes",
}

# Names called without being written out: `main` (the JVM entry
# point) and the `apply`/`unapply`/`update` sugar. Spark's callbacks
# are implemented with `override`, which the scan skips anyway.
SUGAR = {"main", "apply", "unapply", "update"}

DECL = re.compile(
    r"^\s*((?:(?:final|implicit|lazy|override|private|protected|sealed)(?:\[\w+\])?\s+)*)"
    r"(?:def|val)\s+([A-Za-z_][A-Za-z0-9_]*)")
TEMPLATE = re.compile(r"^\s*(?:(?:final|sealed|abstract|private|case)(?:\[\w+\])?\s+)*(?:object|class|trait)\b")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def code(src):
    """The code of `src`, keeping its line breaks: comments and string
    text are removed, but the identifiers an interpolated string
    splices in (`$x`, `${...}`) stay, on the line the string opens."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            j = src.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append(" " + "\n" * src.count("\n", i, j))
            i = j
        elif src[i] == '"':
            interpolated = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            triple = src.startswith('"""', i)
            j = i + (3 if triple else 1)
            spliced = []
            while j < n:
                if triple and src.startswith('"""', j):
                    j += 3
                    while j < n and src[j] == '"':
                        j += 1
                    break
                if not triple and src[j] in '"\n':
                    j += 1
                    break
                if src[j] == "\\" and not triple:
                    j += 2
                elif interpolated and src.startswith("${", j):
                    depth, k = 1, j + 2
                    while k < n and depth:
                        depth += {"{": 1, "}": -1}.get(src[k], 0)
                        k += 1
                    spliced.append(code(src[j + 2:k - 1]))
                    j = k
                elif interpolated and src[j] == "$":
                    m = WORD.match(src, j + 1)
                    if m:
                        spliced.append(m.group(0))
                    j = m.end() if m else j + 2
                else:
                    j += 1
            out.append(" " + " ".join(s.replace("\n", " ") for s in spliced) + " "
                       + "\n" * src.count("\n", i, j))
            i = j
        elif src.startswith("'", i) and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2)
            out.append(" ")
            i = n if j < 0 else j + 1
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def scala_files(top):
    for d, _, names in os.walk(top):
        for f in sorted(names):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def members(code):
    """(line, name) of each public member def/val: every enclosing line
    of smaller indentation must open an object, class or trait."""
    opened = []  # (indent, is_template) of the lines enclosing the current one
    for no, line in enumerate(code.split("\n"), 1):
        if not line.strip():
            continue
        indent = len(line) - len(line.lstrip())
        while opened and opened[-1][0] >= indent:
            opened.pop()
        m = DECL.match(line)
        if (m and all(t for _, t in opened) and m.group(2) not in SUGAR
                and not re.search(r"\b(override|private|protected|implicit)\b", m.group(1))):
            yield no, m.group(2)
        opened.append((indent, bool(TEMPLATE.match(line))))


def main():
    counts, decls = {}, []
    for top in (MAIN, PERFBENCH):
        for path in scala_files(top):
            with open(path, encoding="utf-8") as fh:
                text = code(fh.read())
            for w in WORD.findall(text):
                counts[w] = counts.get(w, 0) + 1
            if top == MAIN:
                decls += [(os.path.relpath(path, ROOT), no, name)
                          for no, name in members(text)]
    unknown = 0
    for path, no, name in sorted(decls):
        if counts.get(name, 0) != 1:
            continue
        if name in KEEP:
            print(f"{path}:{no} {name}  (kept: {KEEP[name]})")
        else:
            print(f"{path}:{no} {name}")
            unknown += 1
    return 1 if unknown else 0


if __name__ == "__main__":
    sys.exit(main())
