"""Deterministic opinion lexicon — the Sirocco-equivalent dictionary.

The reference drives its NLP through the external Sirocco library whose
seed dictionary format is ``src/main/resources/csdict/custom-idioms-en.csv``
(header: poslist[key],positive,negative,sentiment,ambiguous,entity,negation,
acceptance,anger,anticipation,disgust,fear,guilt,interest,joy,sadness,shame,
surprise). Sirocco itself is an external jar, so its exact scores are
unobservable; per SURVEY.md §7 we define our *own* deterministic lexicon with
the same output schema and invariants (17 St* dims, valence codes
{1,2,3,5}).

Scoring semantics (simple on purpose — they must be exactly reproducible in
ANSI SQL for the DuckDB correctness oracle):

    tokens(text)  = lowercase, split on non-[a-z0-9'] runs
    score[dim]    = number of tokens present in LEXICON[dim]
                    (occurrences counted, not distinct)
    StSentiment   = StPositive + StNegative
    total         = sum of all 17 St* values
    valence       = 1 if pos>neg, 2 if neg>pos, 3 if pos==neg>0, else 5
"""

from __future__ import annotations

# dim key -> St column name
DIM_TO_COLUMN = {
    "acceptance": "StAcceptance",
    "anger": "StAnger",
    "anticipation": "StAnticipation",
    "ambiguous": "StAmbiguous",
    "disgust": "StDisgust",
    "fear": "StFear",
    "guilt": "StGuilt",
    "interest": "StInterest",
    "joy": "StJoy",
    "sadness": "StSadness",
    "shame": "StShame",
    "surprise": "StSurprise",
    "positive": "StPositive",
    "negative": "StNegative",
    "profane": "StProfane",
    "unsafe": "StUnsafe",
}

LEXICON: dict[str, list[str]] = {
    # chosen to overlap the synthetic corpora vocabulary (fast/slow/...)
    "positive": ["fast", "great", "excellent", "happy", "love", "win",
                 "improve", "best", "good", "nice", "delight", "cheer"],
    "negative": ["slow", "terrible", "fail", "hate", "broken", "worst",
                 "error", "sad", "bad", "poor", "grief", "awful"],
    "joy": ["joy", "happy", "delight", "cheer", "glad"],
    "sadness": ["sad", "grief", "sorrow", "mourn"],
    "anger": ["anger", "angry", "rage", "furious"],
    "fear": ["fear", "afraid", "scared", "panic"],
    "surprise": ["surprise", "sudden", "shock", "astonish"],
    "anticipation": ["anticipate", "expect", "await", "soon"],
    "disgust": ["disgust", "gross", "nasty"],
    "acceptance": ["trust", "accept", "agree", "reliable"],
    "guilt": ["guilt", "guilty", "blame"],
    "shame": ["shame", "ashamed", "embarrassed"],
    "interest": ["interest", "curious", "intrigued"],
    "ambiguous": ["maybe", "perhaps", "unclear", "ambiguous"],
    "profane": ["damn", "hell"],
    "unsafe": ["attack", "exploit", "danger", "unsafe"],
}

# flat (word, dim) pairs, deterministic order
LEXICON_PAIRS: list[tuple[str, str]] = sorted(
    (w, d) for d, ws in LEXICON.items() for w in ws
)

TOKEN_RE = r"[a-z0-9']+"

# topic blocklist seeds (reference bigquery/topicData.csv blocks weekday
# names and similar calendar words)
TOPIC_BLOCKLIST = [
    "monday", "tuesday", "wednesday", "thursday", "friday", "saturday",
    "sunday", "today", "yesterday", "tomorrow", "week", "month", "year",
]

# stopwords excluded from tags
TAG_STOPWORDS = [
    "the", "a", "an", "and", "or", "is", "was", "are", "were", "this",
    "that", "with", "from", "into", "during", "shows", "behave", "saw",
]

TAG_MIN_LEN = 4
TAG_TOP_K = 10
