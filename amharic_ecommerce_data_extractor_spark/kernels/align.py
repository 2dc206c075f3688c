"""Char-span → token BIO alignment (reference N2, ``model_evaluator.py:
145-197``), used by the HF token-classification backend to project model
spans onto whitespace tokens.

Reference defect (documented in SURVEY.md Appendix-A spirit, found during the
rebuild): the reference builds ``char_to_token_map`` by APPENDING one entry
per *token* character (skipping separator spaces) but then indexes it with
*absolute sentence* character positions — after the first space every lookup
is shifted, so multi-token alignment is systematically wrong. Reproducing a
misindexing bug would poison triple quality, so this implementation uses the
same greedy sequential-find map but indexes it correctly (map is a dict of
absolute char position → token index). B-/I- assignment: first aligned token
of a span gets B-, the rest I-.

Overlap policy — DELIBERATE divergence from the reference: earlier
predictions always win here (a token already labeled is never overwritten).
The reference's overlap handling is itself inconsistent across branches
(``model_evaluator.py:176-197``): one branch only assigns if the token is
'O', while its else-branch overwrites a DIFFERENT-typed label with the newer
prediction. Reproducing that would make output depend on span iteration
order for conflicting model spans; first-wins is order-stable and matches
the reference's dominant branch. Aggregated HF spans ('simple' strategy)
are non-overlapping anyway, so the policies only differ on raw overlapping
span lists.
"""

from __future__ import annotations


def token_offsets(text: str, tokens: list[str]) -> list[tuple[int, int]]:
    """Greedy sequential-find char offsets ``(start, end)`` of each token in
    text (reference :149-168 semantics, with absolute indexing). A token not
    found after the cursor is searched from position 0; one not found at all
    gets ``(-1, -1)`` and leaves the cursor where it was."""
    offs, cursor = [], 0
    for tok in tokens:
        start = text.find(tok, cursor)
        if start == -1:
            start = text.find(tok)
            if start == -1:
                offs.append((-1, -1))
                continue
        offs.append((start, start + len(tok)))
        cursor = start + len(tok)
    return offs


def char_to_token_map(sentence: str, tokens: list[str]) -> dict[int, int]:
    """Absolute char position → token index over :func:`token_offsets`; a
    later token overwrites an earlier one on shared positions."""
    return {c: i for i, (s, e) in enumerate(token_offsets(sentence, tokens))
            for c in range(s, e)}


def align_spans_to_tokens(
    sentence: str,
    tokens: list[str],
    spans: list[dict],
) -> list[str]:
    """spans: [{'entity_group', 'start', 'end', ...}] → BIO labels aligned to
    tokens (one per token, 'O' where uncovered)."""
    labels = ["O"] * len(tokens)
    mapping = char_to_token_map(sentence, tokens)
    for span in spans:
        etype = span.get("entity_group", "")
        covered: list[int] = []
        for c in range(int(span["start"]), int(span["end"])):
            t = mapping.get(c)
            if t is not None and (not covered or covered[-1] != t):
                covered.append(t)
        first_new = True
        for t in covered:
            if labels[t] == "O":
                labels[t] = f"{'B' if first_new else 'I'}-{etype}"
                first_new = False
            else:
                first_new = False  # overlap: earlier prediction wins
    return labels
