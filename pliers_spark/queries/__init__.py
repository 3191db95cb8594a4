"""Driver-facing query registry (split from the former 40k-line
queries.py into domain modules; identical QUERIES/ORACLES surface).
"""
from ._registry import QUERIES, ORACLES, query, _docs, _events
from . import core_parity
from . import temporal_core
from . import relational
from . import dedup_sim
from . import features_a
from . import features_b
from . import encoder_nlp
from . import audio_librosa
from . import curation_a
from . import curation_b
from . import stats_02
from . import stats_03
from . import stats_04
from . import stats_05
from . import stats_06
from . import stats_07
from . import stats_10
from . import stats_11
from . import stats_12
from . import stats_13
