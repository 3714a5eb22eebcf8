from linkmerce_spark.plans.explain import *  # noqa: F401,F403
from linkmerce_spark.plans.explain import __all__  # noqa: F401
