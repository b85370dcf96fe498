#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines per file, with totals for
src/main and src/test -- the "least code" figure ROADMAP aim 2 tracks.

A line counts when any character of it lies outside a comment: `//` line
comments and (nested) `/* ... */` block comments are stripped, string
and character literals (including triple-quoted strings) are kept as
code, so a `//` inside a string never hides code.

Usage:
  python3 tools/loc.py                  # every file + both totals
  python3 tools/loc.py --totals         # the two totals only
  python3 tools/loc.py FILE_OR_DIR ...  # per file + total over the args
"""
import os
import sys


def code_lines(text):
    """Number of lines holding at least one non-space code character."""
    count = 0
    depth = 0          # block-comment nesting depth (Scala nests them)
    in_triple = False  # inside a """...""" literal, which spans lines
    for line in text.splitlines():
        has_code = False
        i, n = 0, len(line)
        while i < n:
            if in_triple:
                has_code = True
                end = line.find('"""', i)
                if end < 0:
                    break
                i = end + 3
                while i < n and line[i] == '"':  # """" closes on the last three
                    i += 1
                in_triple = False
                continue
            c = line[i]
            two = line[i:i + 2]
            if depth > 0:
                if two == '/*':
                    depth += 1
                    i += 2
                elif two == '*/':
                    depth -= 1
                    i += 2
                else:
                    i += 1
                continue
            if two == '//':
                break
            if two == '/*':
                depth += 1
                i += 2
                continue
            if line.startswith('"""', i):
                in_triple = True
                has_code = True
                i += 3
                continue
            if c == '"':
                has_code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == '\\' else 1
                i += 1
                continue
            if c == "'" and i + 2 < n and (line[i + 2] == "'" or line[i + 1] == '\\'):
                has_code = True  # a char literal such as '"' or '\n'
                close = line.find("'", i + 2 if line[i + 1] == '\\' else i + 1)
                i = (close if close > 0 else i) + 1
                continue
            if not c.isspace():
                has_code = True
            i += 1
        if has_code:
            count += 1
    return count


def scala_files(root):
    if os.path.isfile(root):
        return [root] if root.endswith('.scala') else []
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith('.scala')]
    return sorted(out)


def count(path):
    with open(path, encoding='utf-8') as f:
        return code_lines(f.read())


def report(label, roots, per_file):
    total = 0
    for root in roots:
        for f in scala_files(root):
            n = count(f)
            total += n
            if per_file:
                print(f'{n:7d}  {f}')
    print(f'{total:7d}  TOTAL {label}')
    return total


def main(argv):
    per_file = '--totals' not in argv
    args = [a for a in argv if a != '--totals']
    if args:
        report(' '.join(args), args, per_file)
        return
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for part in ('src/main', 'src/test'):
        report(part, [os.path.join(repo, part)], per_file)


if __name__ == '__main__':
    main(sys.argv[1:])
