from workloads import web_closure

SAME, MENT, TYPE, PERSON, MP = 100, 101, 102, 103, 104


def test_web_closure_applies_the_four_rules():
    # a sameAs b sameAs c; page 1 mentions a; b is a Person; page 2 mentions d
    stated = {(1, MENT, 10), (10, SAME, 11), (11, SAME, 12), (11, TYPE, PERSON), (2, MENT, 13)}
    got = web_closure(stated, SAME, MENT, TYPE, PERSON, MP)
    comp = {10, 11, 12}
    same = {(a, SAME, b) for a in comp for b in comp}
    mentions = {(1, MENT, x) for x in comp} | {(2, MENT, 13)}
    assert got == stated | same | mentions | {(1, MP, 11)}


def test_web_closure_is_idempotent():
    stated = {(1, MENT, 10), (10, SAME, 11)}
    once = web_closure(stated, SAME, MENT, TYPE, PERSON, MP)
    assert web_closure(once, SAME, MENT, TYPE, PERSON, MP) == once
