"""yargy_spark — PySpark-native knowledge-graph construction engine
with the query/data-processing capabilities of natasha/yargy.

Two layers:

* ``yargy_spark.kernel`` — a from-scratch, pure-Python re-expression of
  the reference's rule engine (tokenizer -> morph -> predicates ->
  Earley chart -> agreement -> interpretation).  Runs identically on
  the driver (tests) and inside Arrow-batched pandas UDFs on executors.
* ``yargy_spark.operators`` / ``sources`` / ``plans`` — the corpus
  layer: mapInPandas extraction over transcript tables, entity
  blocking/linking (salted joins + connected components),
  canonicalization, triple materialization, training-data ops
  (dedup / text stats), manifests and resume.

The top-level names mirror the reference public API
(/root/reference/yargy/__init__.py) so a reference user can switch
imports and run the same rule programs.
"""

from .kernel.grammar import (and_, empty, forward, not_, or_,
                             seq as rule)
from .kernel.earley import (Context, Match, ParseBudgetExceeded, Parser,
                            PassTagger, Tagger)

__version__ = '0.1.0'

__all__ = [
    'rule', 'or_', 'and_', 'not_', 'forward', 'empty',
    'Parser', 'Match', 'Context', 'Tagger', 'PassTagger',
    'ParseBudgetExceeded',
]
