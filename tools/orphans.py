#!/usr/bin/env python3
"""List the `def`s of the given Scala files that nothing else calls.

Strips comments and string literals (keeping the code inside `${...}`
of interpolated strings) from every file under src/main/scala, then
prints each `def` of the given files whose name occurs exactly once in
what is left: at its own definition. An `override def` is skipped: its
callers call it through the type it overrides.

Usage: python3 tools/orphans.py <file.scala> ...
"""
import os, re, sys

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                    "..", "src", "main", "scala")
CHAR = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^'\\\n])'")
WORD = r"(?<![\w$]){}(?![\w$])"


def strip(s):
    out, i, n = [], 0, len(s)
    while i < n:
        if s.startswith("//", i):
            i = s.find("\n", i) if "\n" in s[i:] else n
        elif s.startswith("/*", i):
            depth, i = 1, i + 2
            while i < n and depth:
                depth += s.startswith("/*", i) - s.startswith("*/", i)
                i += 2 if s.startswith(("/*", "*/"), i) else 1
        elif s[i] == '"':
            interp = i > 0 and (s[i - 1].isalnum() or s[i - 1] == "_")
            q = '"""' if s.startswith('"""', i) else '"'
            i += len(q)
            while i < n and not s.startswith(q, i):
                if interp and s.startswith("${", i):
                    depth, j = 1, i + 2
                    while j < n and depth:
                        depth += (s[j] == "{") - (s[j] == "}")
                        j += 1
                    out.append(" " + strip(s[i + 2:j - 1]) + " ")
                    i = j
                elif interp and s[i] == "$":
                    m = re.match(r"\$([A-Za-z_]\w*)", s[i:])
                    out.append(" " + (m.group(1) if m else "") + " ")
                    i += m.end() if m else 2
                else:
                    i += 2 if q == '"' and s[i] == "\\" else 1
            while s.startswith('"', i + len(q)) and q == '"""':
                i += 1  # """...""""" closes on the last three quotes
            i += len(q)
            out.append('""')
        elif s[i] == "'" and CHAR.match(s, i):
            i = CHAR.match(s, i).end()
            out.append("' '")
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def main(files):
    code = {}
    for d, _, names in os.walk(ROOT):
        for f in names:
            if f.endswith(".scala"):
                p = os.path.realpath(os.path.join(d, f))
                code[p] = strip(open(p, encoding="utf-8").read())
    everything = "\n".join(code.values())
    for f in files:
        for over, name in dict.fromkeys(re.findall(
                r"(\boverride\s+(?:\w+\s+)*)?\bdef\s+([A-Za-z_]\w*)",
                code[os.path.realpath(f)])):
            if not over and len(re.findall(WORD.format(name),
                                           everything)) == 1:
                print(f"{f}: {name}")


if __name__ == "__main__":
    main(sys.argv[1:])
