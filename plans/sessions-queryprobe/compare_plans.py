"""Compare two directories of static query plans (`<query>.txt`, as
`graft.tools.QueryProbe <dir> <sfDir>` writes them) after normalising the
values that change from run to run but not with the plan.

    python3 compare_plans.py <parentDir> <changeDir>

Prints one line per query (`identical` / `DIFFERENT` / `MISSING`) and a
summary line; exits 1 if any plan differs or is missing.
"""
import os
import re
import sys


def norm(t):
    t = re.sub(r'#\d+', '#N', t)                          # expression ids
    t = re.sub(r'\[(id|plan_id)=\d+\]', r'[\1=N]', t)     # exchange / plan ids
    t = re.sub(r'([A-Za-z]*RDD)\[\d+\]', r'\1[N]', t)     # RDD ids
    t = re.sub(r'[A-Za-z_]+\.scala:\d+', 'X.scala:N', t)  # call sites
    t = re.sub(r'\$\$Lambda\$?\d*/0x[0-9a-f]+', '$$Lambda/N', t)
    t = re.sub(r'@[0-9a-f]{5,8}\b', '@H', t)              # object hashes
    t = re.sub(r'(/tmp/graft[A-Za-z_-]*?)-?\d{6,}', r'\1N', t)  # temp dirs
    t = re.sub(r'(graft_b_[a-z_]+_v\d+_)\d+', r'\1N', t)  # temp table names
    t = re.sub(r'file:/[^ ,\]]*?/target/fixture-cache/',
               'file:CHECKOUT/target/fixture-cache/', t)
    t = re.sub(r'part-\d+-[0-9a-f-]{36}', 'part-N-UUID', t)  # output files
    return t


def main(a, b):
    names = sorted(f[:-4] for f in os.listdir(a)
                   if f.endswith('.txt') and not f.endswith('.executed.txt'))
    bad = 0
    for q in names:
        pb = os.path.join(b, q + '.txt')
        if not os.path.exists(pb):
            print(f'MISSING {q}')
            bad += 1
            continue
        ta = norm(open(os.path.join(a, q + '.txt')).read())
        if ta == norm(open(pb).read()):
            print(f'identical {q} ({ta.count(chr(10))} lines)')
        else:
            print(f'DIFFERENT {q}')
            bad += 1
    print(f'# {len(names) - bad} identical, {bad} different or missing')
    return 1 if bad else 0


if __name__ == '__main__':
    sys.exit(main(sys.argv[1], sys.argv[2]))
