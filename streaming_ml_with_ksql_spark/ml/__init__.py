"""ML surface: training pipeline (reference: model-trainer/train.py) and the
registry-resolved scoring operator (reference: PredictUdf.java /
MlflowModelResolver.java), Spark-native — MLeap's row-wise LeapFrame is
replaced by one whole-DataFrame projection: the saved pipeline compiled into
a single SQL expression (``predict.resolve_model``)."""
